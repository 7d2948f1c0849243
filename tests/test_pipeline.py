"""Semantics tests for the pipeline operators that the oracle gate can't
fully check (hash families, approximate search, stubbed codecs)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def truth_pairs(docs):
    """Exact shingle-Jaccard >= 0.8 pairs (inverted-index path is complete)."""
    return {
        (r.da, r.db)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }


def test_word_ngrams_order_repeats_and_short_docs(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d"),
            Row(doc_id=2, text="a b a b"),  # repeated gram preserved
            Row(doc_id=3, text="x y"),      # shorter than k
            Row(doc_id=4, text="solo"),     # single token
        ]
    )
    out = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", dedup.word_ngrams("text", 3).alias("g")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == ["a b a", "b a b"]
    # n < k: NO grams — matches the oracle convention (range(1, n-k+2)
    # is empty) and the semantics (a 1-token doc has no 3-gram)
    assert out[3] == []
    assert out[4] == []


def test_ngram_jaccard_count_identity_matches_array_math(spark):
    """The count-based Jaccard must equal |A∩B| / |A∪B| on array sets."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five six"),
            Row(doc_id=2, text="one two three four five seven"),
            Row(doc_id=3, text="totally different words here now"),
        ]
    )
    got = {
        (r.da, r.db): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.1
        ).collect()
    }
    sh = df.select(
        "doc_id", dedup.word_shingles("text", 3).alias("s")
    ).collect()
    arr = {r.doc_id: set(r.s) for r in sh}
    expected = {}
    for a in arr:
        for b in arr:
            if a < b:
                j = len(arr[a] & arr[b]) / len(arr[a] | arr[b])
                if j >= 0.1:
                    expected[(a, b)] = j
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-12


def test_dup_clusters_chain_and_islands(spark):
    """A 4-node chain must collapse to one component (transitivity across
    rounds), two islands stay separate, non-paired docs don't appear."""
    pairs = spark.createDataFrame(
        [Row(da=1, db=2), Row(da=2, db=3), Row(da=3, db=4),
         Row(da=10, db=11), Row(da=20, db=21)]
    )
    out = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_incremental_minhash_index_equals_batch_cross_pairs(
    spark, docs, tmp_path
):
    """Index the first half of the corpus, dedup the second half against
    it incrementally: the (new, corpus) pairs must equal the cross-split
    pairs of a full batch recompute (same shingle/signature/band
    derivation on both paths, exact verify on both)."""
    from pyspark.sql import functions as F

    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    old, new = docs.filter(F.col("doc_id") < cut), docs.filter(
        F.col("doc_id") >= cut
    )
    path = str(tmp_path / "mh_index")
    dedup.write_minhash_index(old, "doc_id", "text", path)
    inc = {
        (r.new_id, r.corpus_id)
        for r in dedup.dedup_against_index(
            spark, new, "doc_id", "text", path, threshold=0.8
        ).collect()
    }
    full = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    cross = {
        (max(r.da, r.db), min(r.da, r.db))
        for r in full.collect()
        if (r.da < cut) != (r.db < cut)
    }
    assert inc == cross


def test_survivor_selection_quality_policy(spark):
    """One survivor per cluster chosen by max score (ties to min id);
    singletons survive as their own cluster; members partition the corpus."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, n_chars=10), Row(doc_id=2, n_chars=30),
            Row(doc_id=3, n_chars=30),  # ties 2 on score -> 2 wins (min id)
            Row(doc_id=4, n_chars=5),
            Row(doc_id=9, n_chars=99),  # in no pair: singleton survivor
        ]
    )
    pairs = spark.createDataFrame(
        [Row(da=1, db=2), Row(da=2, db=3), Row(da=1, db=4)]
    )
    out = {
        r.cluster_id: (r.keep_id, r.n_members)
        for r in dedup.survivor_selection(docs, pairs).collect()
    }
    assert out == {1: (2, 4), 9: (9, 1)}


def _union_find_components(edges) -> dict:
    """Reference connected components without Spark: node -> minimum id
    of its component. Union by smaller root keeps every root the
    minimum of its set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_graph(name: str) -> list:
    """The CC test graphs as (da, db) edge lists."""
    import hashlib
    import random

    if name.startswith("chain"):
        ids = list(range(30))
        if name == "chain_shuffled":
            random.Random(18).shuffle(ids)
        return list(zip(ids, ids[1:]))
    if name == "hand_built":
        return [
            # chain 1-2-3-4-5 (diameter stresses the squaring)
            (1, 2), (2, 3), (3, 4), (4, 5),
            # star centered high: 100-{7,8,9}
            (100, 7), (100, 8), (9, 100),
            # island pair
            (50, 51),
        ]
    seed = int(name[-1])

    def h(i, j):
        return int.from_bytes(
            hashlib.md5(f"{i}:{j}".encode()).digest()[:4], "big"
        )

    edges = [
        (h(seed, 2 * e) % 60, h(seed, 2 * e + 1) % 60) for e in range(40)
    ]
    return [(a, b) for a, b in edges if a != b]


@pytest.mark.parametrize(
    "graph",
    ["chain_ascending", "chain_shuffled", "hand_built",
     "random0", "random1", "random2"],
)
def test_dup_clusters_match_union_find(spark, graph):
    """Connected components equal a pure-Python union-find on every
    graph. The chains are the long-diameter case that a loop stopped
    at a fixed round count labels wrong."""
    edges = _cc_graph(graph)
    pairs = spark.createDataFrame(edges, "da long, db long")
    got = dedup.dup_clusters(pairs).collect()
    assert dict(got) == _union_find_components(edges)


@pytest.mark.slow
def test_dup_clusters_long_shuffled_chain_matches_union_find(spark):
    """A 200k-node chain with shuffled ids: 14 large-star/small-star
    rounds change its edge set, more than a 12-round cap allows."""
    import random

    ids = list(range(200_000))
    random.Random(7).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    pairs = spark.createDataFrame(edges, "da long, db long")
    got = dedup.dup_clusters(pairs).collect()
    assert dict(got) == _union_find_components(edges)


def test_exact_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="hello world"),
            Row(doc_id=3, text="  HELLO WORLD  "),
            Row(doc_id=4, text="different"),
        ]
    )
    out = {
        r.keep_id: r.n_dups
        for r in dedup.exact_dedup(df, "doc_id", "text").collect()
    }
    assert out == {1: 3, 4: 1}


def test_minhash_lsh_equals_exact(docs, truth_pairs):
    got = {
        (r.da, r.db)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got == truth_pairs


def test_simhash_finds_planted_pairs_only(docs, truth_pairs):
    got = {
        (r.da, r.db)
        for r in dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=8
        ).collect()
    }
    # precision: simhash-close pairs must be genuinely near-duplicate
    assert got <= truth_pairs
    # recall: hamming<=8 on 64 bits catches most J~0.99 pairs
    if truth_pairs:
        assert len(got) >= 0.5 * len(truth_pairs)


def test_df_cutoff_prunes_but_keeps_planted(docs, truth_pairs):
    got = {
        (r.da, r.db)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, df_cutoff=50
        ).collect()
    }
    assert got == truth_pairs


def test_lsh_topk_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    exact = [
        r.vec_id
        for r in similarity.topk_bruteforce(emb, query_id=0, k=10).collect()
    ]
    approx = {
        r.vec_id
        for r in similarity.topk_lsh(
            emb, query_id=0, k=10, planes=2
        ).collect()
    }
    # 2 planes -> ~1/4 of vectors share the bucket; recall won't be perfect
    # but the bucket must contain a meaningful share of the true top-k.
    assert len(approx & set(exact)) >= 2
    # and every returned id must come from the same bucket scoring path
    assert len(approx) == 10
    # multi-probe (Hamming-1 neighbor buckets) can only widen the
    # candidate set -> recall is monotone in the probe count
    multi = {
        r.vec_id
        for r in similarity.topk_lsh(
            emb, query_id=0, k=10, planes=2, multiprobe=2
        ).collect()
    }
    assert len(multi & set(exact)) >= len(approx & set(exact))


@pytest.mark.slow
def test_threshold_pairs_lsh_equals_exact(spark, sf_dir):
    """The banded-LSH near-dup path must recover EVERY exact pair on the
    fixture corpus (deterministic planes -> stable), with identical scores
    — this is what licenses sharing the brute-force DuckDB oracle."""
    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r.da, r.db): r.score
        for r in similarity.threshold_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r.da, r.db): r.score
        for r in similarity.threshold_pairs_lsh(
            emb, threshold=0.45
        ).collect()
    }
    assert len(exact) > 0
    assert lsh == exact


def test_threshold_pairs_lsh_verifies_exactly(spark):
    """Candidates outside the threshold are dropped by the verify stage:
    orthogonal vectors share buckets sometimes but never appear."""
    from pyspark.sql import functions as F  # noqa: F401

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0, 0.0, 0.0]),   # dup of 1
            Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),   # orthogonal
            Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),  # anti
        ]
    )
    out = {
        (r.da, r.db): float(r.score)
        for r in similarity.threshold_pairs_lsh(
            emb, threshold=0.9
        ).collect()
    }
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == pytest.approx(1.0)


def test_ivf_topk_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").cache()
    exact = [
        r.vec_id
        for r in similarity.topk_bruteforce(emb, query_id=0, k=10).collect()
    ]
    approx = [
        r.vec_id
        for r in similarity.topk_ivf_exact(
            emb, query_id=0, k=10, n_centroids=8, nprobe=4
        ).collect()
    ]
    # probing half the lists must recover most of the true top-k
    assert len(set(approx) & set(exact)) >= 5
    assert len(approx) == 10


def test_ivf_train_deterministic_and_inside_unit_ball(spark, sf_dir):
    """The IVF coarse quantizer (lloyd_int over unit-quantized vectors)
    is deterministic, and every centroid — a rounded mean of points on
    the scale-radius sphere — lies inside that sphere up to rounding
    (at most 0.5 per coordinate, once for the input, once for the
    mean)."""
    quant = similarity.quantized_vectors(
        load(spark, sf_dir, "embeddings"), unit=True
    )
    c1 = similarity.lloyd_int(quant, 4, 1)
    c2 = similarity.lloyd_int(quant, 4, 1)
    assert c1 == c2 and len(c1) == 4
    for c in c1:
        norm = sum(x * x for x in c) ** 0.5
        assert 0 < norm <= 1_000_000 + len(c) ** 0.5, norm


def test_ivf_assignment_covers_all_rows(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    quant = similarity.quantized_vectors(emb, unit=True)
    cents = similarity.lloyd_int(quant, 8, 1)
    counts = (
        quant.select(F.expr(similarity.int_assign_sql(cents)).alias("cid"))
        .groupBy("cid")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in counts) == similarity.nonzero(emb).count()
    assert all(0 <= r.cid < 8 for r in counts)


def test_lsh_bucket_deterministic(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    b1 = emb.select(
        "vec_id", similarity.lsh_bucket("embedding", 4).alias("b")
    ).collect()
    b2 = emb.select(
        "vec_id", similarity.lsh_bucket("embedding", 4).alias("b")
    ).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
    assert {r.b for r in b1} <= set(range(16))


def test_text_langid_and_quality_ranges(docs):
    out = text.text_stats(docs, "doc_id", "text").collect()
    assert all(0.0 <= r.quality <= 1.0 for r in out)
    assert all(r.lang_pred in ("en", "de", "fr", "unk") for r in out)
    assert all(0 <= r.fp < 1_000_000_007 for r in out)
    assert all(r.n_tokens > 0 for r in out)


def test_multimodal_features_deterministic(docs):
    feat = multimodal.extract_features(
        multimodal.with_binary_payload(docs)
    )
    rows = {r.doc_id: r for r in feat.collect()}
    some = next(iter(rows.values()))
    assert len(some.features) == multimodal.FEATURE_DIM
    assert abs(sum(some.features) - 1.0) < 1e-6  # histogram normalized
    # matches a locally computed stub on the raw bytes
    doc = docs.filter(docs.doc_id == some.doc_id).collect()[0]
    assert some.features == multimodal.decode_stub(doc.text.encode())
    assert some.n_bytes == len(doc.text.encode())


def test_multimodal_strict_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"bytes", strict=True)
    with pytest.raises(NotImplementedError):
        multimodal.resize_stub(b"bytes", 16, strict=True)


def test_resize_stub_tiles_to_exact_size():
    assert multimodal.resize_stub(b"abc", 8) == b"abcabcab"
    assert multimodal.resize_stub(b"abcdefghij", 4) == b"abcd"
    assert multimodal.resize_stub(b"", 4) == b"\x00\x00\x00\x00"


# ---- real BMP codec (REAL-CODEC.md seam, one real format) ----


def _synth_img(h, w, seed=7):
    import numpy as np

    i = np.arange(h * w, dtype=np.int64).reshape(h, w)
    return np.stack(
        [(seed * 31 + i) % 256, (seed * 17 + 2 * i) % 251,
         (seed * 7 + 3 * i) % 253],
        axis=-1,
    ).astype(np.uint8)


def test_bmp_roundtrip_including_stride_padding():
    import numpy as np

    # 5-wide rows need 1 pad byte (5*3=15 -> stride 16): exercises padding
    for h, w in ((8, 8), (4, 5), (3, 2), (1, 1)):
        img = _synth_img(h, w)
        out = multimodal.bmp_decode(multimodal.bmp_encode(img))
        assert out.shape == (h, w, 3)
        assert np.array_equal(out, img), (h, w)


def test_bmp_decode_handles_topdown_negative_height():
    import struct

    import numpy as np

    img = _synth_img(4, 4)
    buf = bytearray(multimodal.bmp_encode(img))
    # rewrite as top-down: negate height, reverse the stored row order
    struct.pack_into("<i", buf, 22, -4)
    stride = 4 * 3
    rows = [bytes(buf[54 + r * stride: 54 + (r + 1) * stride])
            for r in range(4)]
    buf[54:] = b"".join(reversed(rows))
    out = multimodal.bmp_decode(bytes(buf))
    assert np.array_equal(out, img)


def test_bmp_decode_rejects_non_bmp_and_truncated():
    with pytest.raises(ValueError):
        multimodal.bmp_decode(b"not a bitmap at all, just bytes....." * 3)
    ok = multimodal.bmp_encode(_synth_img(4, 4))
    with pytest.raises(ValueError):
        multimodal.bmp_decode(ok[:60])  # truncated pixel data
    with pytest.raises(ValueError):
        # 8bpp header
        import struct

        bad = bytearray(ok)
        struct.pack_into("<H", bad, 28, 8)
        multimodal.bmp_decode(bytes(bad))


def test_box_resize_exact_block_means():
    import numpy as np

    img = _synth_img(8, 8)
    small = multimodal.box_resize(img, 4, 4)
    assert small.shape == (4, 4, 3)
    for by in range(4):
        for bx in range(4):
            block = img[2 * by: 2 * by + 2, 2 * bx: 2 * bx + 2, :]
            want = block.astype(np.float64).mean(axis=(0, 1))
            assert np.array_equal(small[by, bx], want)
    with pytest.raises(ValueError):
        multimodal.box_resize(img, 3, 3)  # non-integer factor


def test_decode_resize_bmp_catches_row_order_and_channel_bugs(spark, sf_dir):
    """The weighted-block statistic must change if a decoder skips the
    bottom-up flip or the BGR swap — that is what makes the oracle a real
    check on the codec rather than on byte plumbing."""
    import numpy as np

    img = _synth_img(8, 8, seed=3)
    small = multimodal.box_resize(img, 4, 4)
    w = np.arange(1, 17, dtype=np.float64).reshape(4, 4)
    good = [(small[:, :, c] * w).sum() for c in range(3)]
    flipped = multimodal.box_resize(img[::-1], 4, 4)
    assert [(flipped[:, :, c] * w).sum() for c in range(3)] != good
    swapped = multimodal.box_resize(img[:, :, ::-1], 4, 4)
    assert [(swapped[:, :, c] * w).sum() for c in range(3)] != good
    # end-to-end through Spark: one row, value equals the local kernel
    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        "doc_id = 3"
    )
    row = multimodal.decode_resize_bmp(
        multimodal.synth_bmp_payload(docs, side=8), out_side=4
    ).collect()[0]
    assert (row.wsum_r, row.wsum_g, row.wsum_b) == tuple(good)
    assert (row.width, row.height, row.n_bytes) == (8, 8, 246)


def test_winnow_guarantee_finds_shared_substring(spark):
    # winnowing guarantee: a shared substring of length >= window + k - 1
    # (23 chars at defaults) must yield >= 1 shared fingerprint
    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha beta {shared} gamma delta"),
            Row(doc_id=2, text=f"zeta eta THE QUICK  brown fox jumps over the lazy dog omicron"),
            Row(doc_id=3, text="completely unrelated content with zero overlap whatsoever"),
        ]
    )
    pairs = {
        (r.da, r.db)
        for r in dedup.winnow_pairs(df, "doc_id", "text").collect()
    }
    # normalization (case/whitespace) makes doc2's copy exact
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_short_docs_and_determinism(docs):
    fp1 = dedup.winnow_fingerprints(docs, "doc_id", "text").collect()
    fp2 = dedup.winnow_fingerprints(docs, "doc_id", "text").collect()
    assert {r._id: sorted(r.fingerprints) for r in fp1} == {
        r._id: sorted(r.fingerprints) for r in fp2
    }
    # every long-enough doc has at least one fingerprint
    assert all(len(r.fingerprints) >= 1 for r in fp1)


def test_winnow_density(docs):
    # expected fingerprint density is 2/(w+1) ~ 12% of gram hashes;
    # allow generous slack but catch degenerate keep-everything bugs
    from pyspark.sql import functions as F

    stats = (
        dedup.winnow_fingerprints(docs, "doc_id", "text")
        .join(
            docs.select(
                F.col("doc_id").alias("_id"), F.length("text").alias("n")
            ),
            "_id",
        )
        .select(
            (F.size("fingerprints").cast("double") / F.col("n")).alias("d")
        )
        .agg(F.avg("d"))
        .first()[0]
    )
    assert 0.03 < stats < 0.35


def test_gopher_filters_rules_and_conjunction(spark, docs):
    out = text.gopher_stats(docs, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r.keep == (
            r.ok_n_tokens
            and r.ok_avg_len
            and r.ok_alpha
            and r.ok_stopwords
            and r.ok_symbols
        )
    # synthetic corpus exercises both sides of the gate
    keeps = {r.keep for r in rows}
    assert keeps == {True, False}
    # hand-built boundary docs: too short / symbol-heavy / no stopwords
    tiny = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three"),
            Row(doc_id=2, text="# " * 10 + "the a of and is it in to " * 8),
            Row(doc_id=3, text="zz yy xx ww vv uu tt ss rr qq " * 5),
        ]
    )
    by_id = {r.doc_id: r for r in text.gopher_stats(tiny, "doc_id", "text").collect()}
    assert not by_id[1].ok_n_tokens and not by_id[1].keep
    assert not by_id[2].ok_symbols and not by_id[2].keep
    assert not by_id[3].ok_stopwords and not by_id[3].keep


def test_repeated_chunk_dedup_first_occurrence_and_reassembly(spark, docs):
    out = dedup.repeated_chunk_dedup(docs, "doc_id", "text", chunk_words=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    # invariants: n_kept <= n_chunks; no kept chunk string repeats anywhere
    kept_chunks = []
    for r in rows:
        assert 0 <= r.n_kept <= r.n_chunks
        if r.dedup_text:
            kept_chunks.extend([r.dedup_text])  # per-doc text; split below
    # corpus-wide: re-chunk the kept text of every doc and check global
    # uniqueness of survivors (keep-first semantics)
    from pyspark.sql import functions as F

    survivors = (
        out.filter(F.col("dedup_text") != "")
        .select(
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(
                            F.size(F.split(F.col("dedup_text"), " ")) / 8
                        ).cast("int")
                        - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(
                            F.split(F.col("dedup_text"), " "), i * 8 + 1, 8
                        ),
                        " ",
                    ),
                )
            ).alias("i", "chunk")
        )
    )
    # survivors of full-width chunks are unique corpus-wide (tail chunks
    # of re-chunked text can realign, so restrict to 8-word chunks)
    dup = (
        survivors.filter(F.size(F.split(F.col("chunk"), " ")) == 8)
        .groupBy("chunk")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # a doc made of globally-unique tokens survives intact
    uniq = spark.createDataFrame(
        [Row(doc_id=999_999, text="qa1 qb2 qc3 qd4 qe5 qf6 qg7 qh8 qi9")]
    )
    r = dedup.repeated_chunk_dedup(uniq, "doc_id", "text").first()
    assert r.dedup_text == "qa1 qb2 qc3 qd4 qe5 qf6 qg7 qh8 qi9"
    assert r.n_kept == r.n_chunks == 2


def test_global_shuffle_shards_dense_and_deterministic(docs, sf_dir):
    from cassandra_sql_spark.queries import REGISTRY

    q = REGISTRY["sample_global_shuffle"]
    sf = sf_dir
    df1 = q.fn(docs.sparkSession, sf)
    rows = df1.collect()
    n = len(rows)
    assert n == docs.count()
    shards = {}
    for r in rows:
        assert 0 <= r.shard < 8
        shards.setdefault(r.shard, []).append(r.pos)
    # positions are dense 1..len per shard
    for s, ps in shards.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s
    # deterministic: same assignment on re-run
    rows2 = {(r.doc_id): (r.shard, r.pos) for r in q.fn(docs.sparkSession, sf).collect()}
    assert rows2 == {r.doc_id: (r.shard, r.pos) for r in rows}


@pytest.mark.slow
def test_semantic_dedup_one_keeper_per_cluster(spark, sf_dir):
    from cassandra_sql_spark.queries import REGISTRY

    rows = REGISTRY["dedup_semantic"].fn(spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1, cid
        # representative is the min id and labels itself
        assert keeps[0].vec_id == cid == min(m.vec_id for m in members)


def test_corpus_curation_gates_compose(spark, sf_dir):
    from cassandra_sql_spark.queries import REGISTRY

    rows = REGISTRY["corpus_curation_pipeline"].fn(spark, sf_dir).collect()
    assert rows, "curation output empty — gates too strict for fixtures"
    total_kept = sum(r.n_docs for r in rows)
    n_docs = load(spark, sf_dir, "documents").count()
    assert 0 < total_kept < n_docs  # gates drop something, keep something
    for r in rows:
        assert 0.7 <= r.avg_quality <= 1.0, r


@pytest.mark.slow
def test_bloom_decontam_no_false_negatives(spark, sf_dir):
    """Every train doc the exact 5-gram join flags MUST be Bloom-flagged
    (one-sided error), and the false-positive overhang stays tiny at the
    default bitmap sizing."""
    from cassandra_sql_spark.pipeline import dedup
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    train, eval_df = d.filter(~is_eval), d.filter(is_eval)
    exact = {
        r.train_id
        for r in dedup.contamination_pairs(
            train, eval_df, "doc_id", "text", k=5
        ).collect()
    }
    rows = dedup.bloom_decontam(
        train, eval_df, "doc_id", "text", k=5
    ).collect()
    flagged = {r.doc_id for r in rows if r.flagged}
    assert exact <= flagged, exact - flagged
    # FP overhang bound: at m=2^17, p=7, the per-gram FP rate is ~1e-5;
    # allow a generous 5% of train docs as slack against corpus growth
    assert len(flagged - exact) <= max(2, 0.05 * train.count())
    # deterministic across rebuilds
    rows2 = dedup.bloom_decontam(
        train, eval_df, "doc_id", "text", k=5
    ).collect()
    assert {(r.doc_id, r.n_flagged_grams, r.flagged) for r in rows} == {
        (r.doc_id, r.n_flagged_grams, r.flagged) for r in rows2
    }


@pytest.mark.slow
def test_bloom_decontam_md5_family_same_contract(spark, sf_dir):
    """The md5 probe family (the oracle-checkable verification twin of
    the xxhash64 default) keeps the same one-sided-error contract: every
    exactly-contaminated doc is flagged, FP overhang within the same
    bound, and both families agree on every truly-contaminated doc."""
    from cassandra_sql_spark.pipeline import dedup
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    train, eval_df = d.filter(~is_eval), d.filter(is_eval)
    exact = {
        r.train_id
        for r in dedup.contamination_pairs(
            train, eval_df, "doc_id", "text", k=5
        ).collect()
    }
    rows = dedup.bloom_decontam(
        train, eval_df, "doc_id", "text", k=5, hash_family="md5"
    ).collect()
    flagged = {r.doc_id for r in rows if r.flagged}
    assert exact <= flagged, exact - flagged
    assert len(flagged - exact) <= max(2, 0.05 * train.count())
    # a contaminated doc shares >= 1 whole gram with eval, so its
    # n_flagged_grams is >= 1 under ANY probe family — cross-check counts
    xx = {
        r.doc_id: r.n_flagged_grams
        for r in dedup.bloom_decontam(
            train, eval_df, "doc_id", "text", k=5
        ).collect()
    }
    for r in rows:
        if r.doc_id in exact:
            assert r.n_flagged_grams >= 1 and xx[r.doc_id] >= 1


# ---- product quantization (PQ / ADC) ----


@pytest.fixture(scope="module")
def pq_emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def pq_quant(pq_emb):
    return similarity.quantized_vectors(pq_emb, unit=True)


@pytest.fixture(scope="module")
def pq_books(pq_quant):
    return similarity.pq_books_int(pq_quant, m=4, k_codes=16, iters=2)


def _codes(df, books):
    from pyspark.sql import functions as F

    return df.select(
        "vec_id", F.expr(similarity.pq_codes_sql(books)).alias("_codes")
    )


@pytest.mark.slow
def test_pq_train_shape_and_determinism(pq_quant, pq_books):
    assert len(pq_books) == 4
    assert all(len(b) == 16 for b in pq_books)
    assert all(len(c) == 16 for b in pq_books for c in b)  # 64/4 subdim
    again = similarity.pq_books_int(pq_quant, m=4, k_codes=16, iters=2)
    assert again == pq_books


def test_pq_encode_is_map_only(pq_quant, pq_books):
    enc = _codes(pq_quant, pq_books)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    row = enc.orderBy("vec_id").first()
    assert len(row["_codes"]) == 4
    assert all(0 <= c < 16 for c in row["_codes"])


def test_pq_codeword_vectors_encode_to_themselves(spark, pq_books):
    # quantized rows that ARE concatenations of codewords: the code
    # roundtrip is exact and the ADC distance to themselves is 0
    from pyspark.sql import functions as F

    vecs = {
        100 + c: [x for j in range(4) for x in pq_books[j][c]]
        for c in range(16)
    }
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id bigint, _xq array<bigint>"
    )
    enc = _codes(df, pq_books)
    got = {r["vec_id"]: r["_codes"] for r in enc.collect()}
    for c in range(16):
        assert got[100 + c] == [c, c, c, c]
    adc = F.expr(similarity._adc_sql(pq_books, vecs[103]))
    assert enc.filter("vec_id = 103").select(adc).first()[0] == 0


def test_pq_adc_missing_query_is_empty(pq_emb):
    out = similarity.pq_topk_exact(pq_emb, query_id=10**9)
    assert out.count() == 0
    assert out.columns == ["vec_id", "score"]


@pytest.mark.slow
def test_pq_rerank_recall_vs_exact(pq_emb):
    # worst case for PQ (isotropic random vectors): a 20% ADC shortlist
    # must still recover >= half of the true cosine top-10
    hits = total = 0
    for qid in (0, 42, 333):
        exact = {
            r["vec_id"]
            for r in similarity.topk_bruteforce(pq_emb, qid, k=10).collect()
        }
        approx = {
            r["vec_id"]
            for r in similarity.pq_topk_exact(
                pq_emb, qid, k=10, shortlist=100
            ).collect()
        }
        assert len(approx) == 10
        hits += len(approx & exact)
        total += 10
    assert hits / total >= 0.5, hits / total


def test_pq_rerank_distances_are_exact_for_returned_ids(pq_emb):
    brute = {
        r["vec_id"]: r["score"]
        for r in similarity.topk_bruteforce(pq_emb, 0, k=10**6).collect()
    }
    out = similarity.pq_topk_exact(pq_emb, 0, k=5, shortlist=50).collect()
    assert len(out) == 5
    for r in out:
        assert r["score"] == brute[r["vec_id"]]


def test_pq_index_probe_matches_inline_and_prunes_columns(
    spark, pq_emb, pq_books, tmp_path
):
    path = str(tmp_path / "pqidx")
    books = similarity.write_pq_index(pq_emb, path, m=4, k_codes=16)
    assert books == pq_books  # deterministic retrain
    qv = [float(x) for x in pq_emb.filter("vec_id = 0").first()["embedding"]]
    # the query row is in the index: its codes are its own nearest
    # codewords, so it takes the first shortlist slot (and ranks first,
    # cosine 1) — ask for one more of each than the inline path
    out = similarity.pq_topk_pruned(
        spark, path, books, qv, k=11, shortlist=51
    )
    # stage-1 ADC scan must be column-pruned to (id, codes): the vector
    # column never leaves disk for the full scan (the 100 TB contract)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert any(
        "_codes" in ln and "embedding" not in ln for ln in scans
    ), plan
    got = [(r["vec_id"], r["score"]) for r in out.collect()]
    # same codebooks + same parameters -> the inline, oracle-checked rows
    inline = [
        (r["vec_id"], r["score"])
        for r in similarity.pq_topk_exact(
            pq_emb, 0, k=10, shortlist=50, m=4, k_codes=16
        ).collect()
    ]
    assert len(inline) == 10
    assert got == [(0, 1.0)] + inline


@pytest.mark.slow
def test_kmeans_entry_matches_python_fold_replica(spark, sf_dir):
    """emb_kmeans_clusters == pure-Python replica of the exact-integer
    Lloyd (similarity.kmeans_exact): md5-smallest seeds, int64 squared
    distances with ties to the lowest cluster, round-half-up rational
    centroid updates — every value is an integer, so equality is exact
    by construction (no IEEE-order argument needed)."""
    import hashlib
    import math

    from cassandra_sql_spark.queries.embeddings import _kmeans

    out1 = {r.vec_id: r.cluster_key for r in _kmeans(spark, sf_dir).collect()}
    out2 = {r.vec_id: r.cluster_key for r in _kmeans(spark, sf_dir).collect()}
    assert out1 == out2  # deterministic end to end

    emb = similarity.nonzero(load(spark, sf_dir, "embeddings"))
    data = [
        (r.vec_id, [int(math.floor(float(x) * 1_000_000 + 0.5))
                    for x in r.embedding])
        for r in emb.select("vec_id", "embedding").collect()
    ]
    seeds = sorted(
        data,
        key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
    )[:8]
    cents = [list(s[1]) for s in seeds]

    def nearest(xq):
        return min(
            range(len(cents)),
            key=lambda c: (
                sum((a - b) * (a - b) for a, b in zip(xq, cents[c])), c
            ),
        )

    for _ in range(3):
        members: dict[int, list] = {}
        for vid, xq in data:
            members.setdefault(nearest(xq), []).append(xq)
        cents = [
            [(2 * sum(m[i] for m in ms) + len(ms)) // (2 * len(ms))
             for i in range(len(cents[c]))]
            if (ms := members.get(c)) else cents[c]
            for c in range(len(cents))
        ]
    assign = {vid: nearest(xq) for vid, xq in data}
    min_id: dict[int, int] = {}
    for vid, cid in assign.items():
        min_id[cid] = min(min_id.get(cid, vid), vid)
    expected = {vid: min_id[cid] for vid, cid in assign.items()}
    assert out1 == expected


# --- REAL codec #2: RIFF/WAVE PCM16 (r8) -----------------------------------


def test_wav_roundtrip_with_and_without_junk_chunk():
    import numpy as np

    s = np.array([0, 1000, -1000, 32767, -32768, 5], dtype=np.int16)
    for junk in (False, True):
        rate, out = multimodal.wav_decode(
            multimodal.wav_encode(s, 11025, junk=junk)
        )
        assert rate == 11025
        assert np.array_equal(out, s), junk


def test_wav_decode_walks_chunks_not_offset_44():
    """A JUNK chunk before data shifts the payload past offset 44 — the
    decoder must find data by chunk id, and must skip odd-sized chunks
    with RIFF even padding."""
    import struct

    import numpy as np

    s = np.arange(-8, 8, dtype=np.int16)
    buf = multimodal.wav_encode(s, 8000, junk=True)
    assert buf[36:40] == b"JUNK"  # data is NOT at 44 in this file
    rate, out = multimodal.wav_decode(buf)
    assert rate == 8000 and np.array_equal(out, s)
    # odd-sized unknown chunk: pad byte must be skipped
    fmt = buf[12:36]
    data = buf[56:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = b"WAVE" + fmt + odd + data
    crafted = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, out = multimodal.wav_decode(crafted)
    assert rate == 8000 and np.array_equal(out, s)


def test_wav_decode_rejects_non_pcm16_mono_and_truncated():
    import struct

    import numpy as np

    s = np.arange(4, dtype=np.int16)
    ok = multimodal.wav_encode(s, 8000)
    with pytest.raises(ValueError):
        multimodal.wav_decode(b"RIFXWAVE" + bytes(40))
    with pytest.raises(ValueError):
        multimodal.wav_decode(ok[:30])  # truncated fmt/data
    for field_off, val in ((20, 3), (22, 2), (34, 8)):
        bad = bytearray(ok)  # float fmt / stereo / 8-bit
        struct.pack_into("<H", bad, field_off, val)
        with pytest.raises(ValueError):
            multimodal.wav_decode(bytes(bad))


def test_audio_features_match_hand_computation(spark):
    """Kernel vs a from-scratch recomputation on one fixture id — RMS
    radicands exact, zero crossings strict sign changes."""
    import math

    import numpy as np

    d = 7  # odd: junk chunk present, n = 96, rate = 11050
    row = (
        multimodal.audio_features_wav(
            multimodal.synth_wav_payload(
                spark.range(d, d + 1).withColumnRenamed("id", "doc_id")
            )
        )
        .collect()[0]
    )
    n = 64 + (d % 3) * 32
    i = np.arange(n, dtype=np.int64)
    s = ((d * 37 + i * 13) % 4001) - 2000
    assert row["sample_rate"] == 8000 + (d % 2) * 3050
    assert row["n_samples"] == n
    assert row["n_bytes"] == 44 + 2 * n + 20 * (d % 2)
    assert row["peak_abs"] == int(np.abs(s).max())
    assert row["zero_crossings"] == int(
        np.count_nonzero(s[1:] * s[:-1] < 0)
    )
    q = n // 4
    for w in range(4):
        win = s[w * q: (w + 1) * q]
        want = math.sqrt(int((win * win).sum()) / q)
        assert row[f"rms_q{w + 1}"] == want, w


def test_byte_histogram_twin_reproduces_decode_stub(spark, docs):
    """The hash-graded scalar twin (exact counts CSV) and the ARRAY
    library form (rounded fractions) are the same kernel: counts/n must
    reproduce decode_stub's features exactly."""
    payloads = multimodal.with_binary_payload(docs)
    twin = {
        r.doc_id: (r.n_bytes, [int(c) for c in r.hist_csv.split(",")])
        for r in multimodal.byte_histogram_csv(payloads).collect()
    }
    lib = {
        r.doc_id: r.features
        for r in multimodal.extract_features(payloads).collect()
        if r.n_bytes > 0
    }
    assert set(twin) == set(lib) and twin
    for doc_id, (n, counts) in twin.items():
        assert sum(counts) == n
        assert lib[doc_id] == [round(c / n, 9) for c in counts], doc_id


# --- REAL codec #3: PNG 8-bit RGB (r9) --------------------------------------


def test_png_roundtrip_every_filter_type():
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w in ((1, 1), (3, 5), (8, 8), (7, 2)):
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for f in range(5):
            dec, _ = multimodal.png_decode(
                multimodal.png_encode(img, row_filter=lambda y, f=f: f)
            )
            assert (dec == img).all(), (h, w, f)
        # mixed filters per row — the fixture configuration
        dec, _ = multimodal.png_decode(
            multimodal.png_encode(img, row_filter=lambda y: (y * 3 + 1) % 5)
        )
        assert (dec == img).all(), (h, w)


def test_png_decode_concatenates_all_idat_chunks_and_counts_them():
    """A decoder that reads only the first IDAT inflates a truncated
    stream and dies (or reconstructs wrong pixels); the chunk count is
    part of the output so skipping the walk cannot go unnoticed."""
    import numpy as np

    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    p = multimodal.png_encode(
        img, row_filter=lambda y: y % 5, idat_split=4,
        text_chunk=b"Comment\x00split-idat",
    )
    dec, n_chunks = multimodal.png_decode(p)
    assert (dec == img).all()
    # IHDR + tEXt + 4 IDAT + IEND
    assert n_chunks == 7


def test_png_decode_validates_crc_and_rejects_unsupported():
    import struct

    import numpy as np

    img = np.zeros((4, 4, 3), np.uint8)
    ok = multimodal.png_encode(img)
    # flip one pixel byte inside IDAT without fixing the CRC
    bad = bytearray(ok)
    idat_at = ok.index(b"IDAT")
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.png_decode(bytes(bad))
    with pytest.raises(ValueError):
        multimodal.png_decode(b"\x89PNG\r\n\x1a\n" + b"junk")
    with pytest.raises(ValueError):
        multimodal.png_decode(b"GIF89a not a png")
    with pytest.raises(ValueError):
        multimodal.png_decode(ok[:-20])  # IEND gone
    # 16-bit depth header (re-CRC'd so the depth check is what fires)
    hdr = bytearray(ok)
    ihdr_data = ok[16:29]
    patched = bytearray(ihdr_data)
    patched[8] = 16
    import zlib

    hdr[16:29] = patched
    struct.pack_into(
        ">I", hdr, 29, zlib.crc32(b"IHDR" + bytes(patched)) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.png_decode(bytes(hdr))


def test_png_fixture_traps_are_armed(spark, sf_dir):
    """The synth fixtures must actually exercise the traps: all five
    filter types across rows, split IDAT on odd ids, tEXt on ids%3==0 —
    otherwise the oracle's closed-form n_chunks proves nothing."""
    rows = (
        multimodal.synth_png_payload(
            load(spark, sf_dir, "documents").select("doc_id").filter(
                "doc_id < 12"
            )
        )
        .collect()
    )
    assert len(rows) == 12
    for r in rows:
        p = bytes(r.payload)
        d = int(r.doc_id)
        n_idat = p.count(b"IDAT")
        assert n_idat == 1 + d % 2, d
        assert (b"tEXt" in p) == (d % 3 == 0), d
        img, n_chunks = multimodal.png_decode(p)
        assert img.shape == (8, 8, 3)
        assert n_chunks == 3 + d % 2 + (1 if d % 3 == 0 else 0), d
        # per-row filter bytes cycle (d+y)%5 — check via re-encode match
        filters = {(d + y) % 5 for y in range(8)}
        assert filters == {0, 1, 2, 3, 4}


# --- REAL codec #4: baseline JPEG grayscale (r9) ----------------------------


def test_jpeg_flat_even_blocks_roundtrip_exactly():
    """For flat 8x8 blocks with EVEN levels the Annex-K quantized DC is
    exactly (v-128)/2 — the full lossy pipeline must reproduce the
    source bit-for-bit (this is what makes the oracle exact)."""
    import numpy as np

    img = np.zeros((16, 24), np.uint8)
    vals = iter([40, 120, 202, 238, 64, 90])
    for by in range(2):
        for bx in range(3):
            img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = next(vals)
    dec, nb = multimodal.jpeg_decode_gray(multimodal.jpeg_encode_gray(img))
    assert nb == 6
    assert (dec == img).all()


def test_jpeg_lossy_roundtrip_error_bounds():
    """Real transform-codec signature: smooth content reconstructs
    near-exactly, white noise (worst case) stays within the coarse
    Annex-K quantization error envelope."""
    import numpy as np

    y, x = np.mgrid[0:32, 0:32]
    smooth = ((y * 4 + x * 3) % 256).astype(np.uint8)
    dec, _ = multimodal.jpeg_decode_gray(
        multimodal.jpeg_encode_gray(smooth)
    )
    err = np.abs(dec.astype(int) - smooth.astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0
    rng = np.random.default_rng(5)
    noise = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    dec, _ = multimodal.jpeg_decode_gray(
        multimodal.jpeg_encode_gray(noise)
    )
    err = np.abs(dec.astype(int) - noise.astype(int))
    assert err.max() <= 130 and err.mean() <= 25  # quant-table envelope


def test_jpeg_decode_rejects_out_of_subset():
    import numpy as np

    ok = multimodal.jpeg_encode_gray(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError):
        multimodal.jpeg_decode_gray(b"not a jpeg")
    with pytest.raises(ValueError):
        multimodal.jpeg_decode_gray(ok[:40])  # truncated mid-segment
    # progressive SOF2 must be rejected, not mis-parsed
    bad = bytearray(ok)
    sof = ok.index(b"\xff\xc0")
    bad[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        multimodal.jpeg_decode_gray(bytes(bad))


def test_jpeg_entropy_stream_byte_stuffing_roundtrips():
    """Blocks chosen to force 0xFF bytes in the entropy stream — the
    stuffing writer and the reader's 0xFF00 handling must agree."""
    import numpy as np

    rng = np.random.default_rng(11)
    hit = False
    for _ in range(40):
        img = rng.integers(0, 256, (8, 16)).astype(np.uint8)
        p = multimodal.jpeg_encode_gray(img)
        sos = p.index(b"\xff\xda")
        if b"\xff\x00" in p[sos + 2:-2]:
            hit = True
            multimodal.jpeg_decode_gray(p)  # must not raise
    assert hit, "no fixture produced a stuffed byte; widen the search"


def test_jpeg_fixture_traps_are_armed(spark, sf_dir):
    """COM segments on ids%3==0 (marker walk), DC-difference chain
    across blocks (predictor), closed-form even flat levels (exact
    decode)."""
    rows = multimodal.synth_jpeg_payload(
        load(spark, sf_dir, "documents").select("doc_id").filter(
            "doc_id < 9"
        )
    ).collect()
    assert len(rows) == 9
    for r in rows:
        p = bytes(r.payload)
        d = int(r.doc_id)
        assert (b"\xff\xfe" in p) == (d % 3 == 0), d
        img, nb = multimodal.jpeg_decode_gray(p)
        assert nb == 4 and img.shape == (16, 16)
        for by in range(2):
            for bx in range(2):
                v = 2 * ((d * 7 + by * 3 + bx * 5) % 100) + 40
                blk = img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                assert (blk == v).all(), (d, by, bx)


# --- REAL codec #5: GIF palette + LZW (r9) ----------------------------------


def test_gif_roundtrip_random_and_kwkwk():
    import numpy as np

    rng = np.random.default_rng(11)
    for trial in range(40):
        nc = 4 << rng.integers(0, 3)
        h, w = int(rng.integers(1, 30)), int(rng.integers(1, 30))
        idx = rng.integers(0, nc, size=(h, w)).astype(np.uint8)
        pal = rng.integers(0, 256, size=(nc, 3)).astype(np.uint8)
        p = multimodal.gif_encode(
            idx, pal, max_sub_block=int(rng.integers(1, 256))
        )
        rgb, n_colors, n_ext = multimodal.gif_decode(p)
        assert n_colors == nc and n_ext == 0
        assert np.array_equal(rgb, pal[idx]), trial
    # aaaa... runs hit the KwKwK (code == next_code) special case
    idx = np.zeros((16, 16), np.uint8)
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    rgb, _, _ = multimodal.gif_decode(multimodal.gif_encode(idx, pal))
    assert np.array_equal(rgb, pal[idx])
    # large low-palette image forces code width growth toward 12 bits
    # and the 4096 dictionary cap on both sides
    idx = rng.integers(0, 4, size=(200, 200)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(4, 3)).astype(np.uint8)
    rgb, _, _ = multimodal.gif_decode(multimodal.gif_encode(idx, pal))
    assert np.array_equal(rgb, pal[idx])


def test_gif_decode_walks_extensions_and_rejects_unsupported():
    import numpy as np
    import pytest

    idx = np.arange(64, dtype=np.uint8).reshape(8, 8) % 8
    pal = np.arange(24, dtype=np.uint8).reshape(8, 3)
    p89 = multimodal.gif_encode(
        idx, pal, version=b"89a", comment=b"c" * 300, max_sub_block=7
    )
    rgb, nc, n_ext = multimodal.gif_decode(p89)
    assert (nc, n_ext) == (8, 1)
    assert np.array_equal(rgb, pal[idx])

    p = bytearray(multimodal.gif_encode(idx, pal))
    with pytest.raises(ValueError):
        multimodal.gif_decode(b"NOTAGIF" + bytes(p))
    # flip the interlace bit in the image descriptor
    desc = bytes(p).index(b"\x2c")
    p_i = bytes(p[:desc + 9]) + bytes((p[desc + 9] | 0x40,)) + bytes(
        p[desc + 10:]
    )
    with pytest.raises(ValueError):
        multimodal.gif_decode(p_i)
    # truncate the trailer
    with pytest.raises(ValueError):
        multimodal.gif_decode(bytes(p[:-1]) + b"\x00")


def test_gif_fixture_traps_are_armed(spark, sf_dir):
    """Fixtures must exercise the traps: varying palette size (all three
    LZW min code sizes), multiple data sub-blocks, 89a + comment on
    ids%3==0 — otherwise the oracle's closed-form columns prove
    nothing."""
    rows = (
        multimodal.synth_gif_payload(
            load(spark, sf_dir, "documents").select("doc_id").filter(
                "doc_id < 12"
            )
        )
        .collect()
    )
    assert len(rows) == 12
    seen_nc = set()
    for r in rows:
        p = bytes(r.payload)
        d = int(r.doc_id)
        assert p[:6] == (b"GIF89a" if d % 3 == 0 else b"GIF87a"), d
        rgb, nc, n_ext = multimodal.gif_decode(p)
        assert nc == 4 << (d % 3)
        assert n_ext == (1 if d % 3 == 0 else 0)
        seen_nc.add(nc)
        # count LZW data sub-blocks: walk header -> GCT -> extensions
        # -> image descriptor (0x2C can occur inside palette bytes, so
        # a byte search would lie)
        pos = 13 + 3 * nc
        while p[pos] == 0x21:
            pos += 2
            while p[pos]:
                pos += 1 + p[pos]
            pos += 1
        assert p[pos] == 0x2C, d
        pos += 10 + 1
        n_blocks = 0
        while p[pos]:
            n_blocks += 1
            pos += 1 + p[pos]
        assert n_blocks >= 2, (d, n_blocks)
    assert seen_nc == {4, 8, 16}


# --- REAL codec #6: baseline 4:2:0 color JPEG (r10) -------------------------


def _flat_color_img(colors, mcus=2):
    import numpy as np

    img = np.zeros((mcus * 16, mcus * 16, 3), np.uint8)
    it = iter(colors)
    for mi in range(mcus):
        for mj in range(mcus):
            img[mi * 16:(mi + 1) * 16, mj * 16:(mj + 1) * 16] = next(it)
    return img


def test_jpeg_color_fixture_grid_snap_exists_exhaustively():
    """The argmin-k green snap (even luma, no mod-8 chroma-DC tie) must
    exist within k<=16 for EVERY fixture id the entry can see — the
    guarantee the closed-form oracle rests on. Exhaustive, not
    sampled."""
    for d in range(500):
        for mi in range(2):
            for mj in range(2):
                multimodal.jpeg_color_fixture_rgb(d, mi, mj)  # raises if none


def test_jpeg_color_flat_snapped_mcus_roundtrip_exactly():
    """Grid-snapped flat MCUs reconstruct bit-for-bit through the full
    lossy pipeline (both DQT packings), and the result matches the
    oracle's integer arithmetic chain recomputed independently."""
    import math

    import numpy as np

    for d in (0, 7, 42):
        colors = [
            multimodal.jpeg_color_fixture_rgb(d, mi, mj)
            for mi in range(2) for mj in range(2)
        ]
        img = _flat_color_img(colors)
        for split in (False, True):
            dec, nm = multimodal.jpeg_decode_color(
                multimodal.jpeg_encode_color(img, split_dqt=split)
            )
            assert nm == 4
            for i, (r, g, b) in enumerate(colors):
                mi, mj = divmod(i, 2)
                mcu = dec[mi * 16:(mi + 1) * 16, mj * 16:(mj + 1) * 16]
                assert (mcu == mcu[0, 0]).all()
                y, cb, cr = (
                    int(x) for x in multimodal.rgb_to_ycbcr_int(r, g, b)
                )
                yr = 2 * ((y - 128) // 2) + 128
                dcb = math.floor(8 * (cb - 128) / 17 + 0.5)
                dcr = math.floor(8 * (cr - 128) / 17 + 0.5)
                cbr = min(255, max(0, math.floor(17 * dcb / 8 + 128.5)))
                crr = min(255, max(0, math.floor(17 * dcr / 8 + 128.5)))
                exp = tuple(
                    int(v) for v in multimodal.ycbcr_to_rgb_int(yr, cbr, crr)
                )
                assert tuple(int(v) for v in mcu[0, 0]) == exp, (d, i)


def test_jpeg_color_lossy_roundtrip_error_bounds():
    """Smooth gradients reconstruct within a tight envelope; the coarse
    chroma table makes color noise worse than luma noise — both stay
    inside the quantization error bound."""
    import numpy as np

    y, x = np.mgrid[0:32, 0:32]
    smooth = np.stack(
        [((y * 4 + x * 3) % 256), ((y * 2 + x * 5) % 256),
         ((y * 3 + x * 2) % 256)], axis=2
    ).astype(np.uint8)
    dec, _ = multimodal.jpeg_decode_color(
        multimodal.jpeg_encode_color(smooth)
    )
    err = np.abs(dec.astype(int) - smooth.astype(int))
    assert err.mean() <= 6.0 and err.max() <= 96


def test_jpeg_color_decode_rejects_out_of_subset():
    import numpy as np

    ok = multimodal.jpeg_encode_color(
        _flat_color_img([(10, 20, 30), (40, 50, 60), (70, 80, 90),
                         (100, 110, 120)])
    )
    with pytest.raises(ValueError):
        multimodal.jpeg_decode_color(b"junk")
    # grayscale payload into the color decoder: 1 component -> reject
    gray = multimodal.jpeg_encode_gray(np.zeros((16, 16), np.uint8))
    with pytest.raises(ValueError, match="3-component"):
        multimodal.jpeg_decode_color(gray)
    # progressive SOF2 rejected
    bad = bytearray(ok)
    bad[ok.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        multimodal.jpeg_decode_color(bytes(bad))
    # 4:4:4 (sampling 0x11 on Y) rejected honestly
    bad = bytearray(ok)
    sof = ok.index(b"\xff\xc0")
    bad[sof + 4 + 7] = 0x11  # Y sampling byte inside SOF0 payload
    with pytest.raises(ValueError, match="4:2:0"):
        multimodal.jpeg_decode_color(bytes(bad))
    # r12 (codec #9): DRI is now SUPPORTED — a declared interval larger
    # than the MCU count never fires and must decode identically to the
    # DRI-free payload (the rejection pin this replaces is obsolete)
    import struct
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 8)
    with_dri = ok[:2] + dri + ok[2:]
    d0, _ = multimodal.jpeg_decode_color(ok)
    d1, _ = multimodal.jpeg_decode_color(with_dri)
    assert (d0 == d1).all()


def test_jpeg_color_interleaving_and_predictors_are_per_component():
    """Distinct per-MCU colors force all three DC predictor chains to
    carry nonzero diffs; a decoder that shares one predictor across
    components or walks MCUs column-major cannot reproduce this."""
    import numpy as np

    colors = [(200, 30, 60), (20, 180, 240), (90, 90, 90), (250, 10, 130)]
    img = _flat_color_img(colors)
    dec, _ = multimodal.jpeg_decode_color(multimodal.jpeg_encode_color(img))
    # every MCU distinct after decode (no cross-MCU bleed)
    got = {
        tuple(int(v) for v in dec[mi * 16, mj * 16])
        for mi in range(2) for mj in range(2)
    }
    assert len(got) == 4


# --- REAL codec #7: PROGRESSIVE JPEG (r11) -----------------------------------


def test_jpeg_progressive_matches_baseline_decode_exactly():
    """The progressive entropy layering must be lossless over the SAME
    quantized coefficients: decode(prog_encode(img)) == decode(
    base_encode(img)) bit-for-bit, across content classes that exercise
    EOB runs (flat), dense AC (noise), band splits (gradient), and
    isolated coefficients (sparse)."""
    import numpy as np

    rng = np.random.default_rng(7)
    imgs = [
        rng.integers(0, 256, (24, 32)).astype(np.uint8),
        np.full((32, 16), 171, np.uint8),
        ((np.arange(32)[None, :] * 3 + np.arange(24)[:, None] * 5) % 256
         ).astype(np.uint8),
    ]
    sparse = np.zeros((24, 24), np.uint8)
    sparse[::8, ::8] = 200
    imgs.append(sparse)
    for img in imgs:
        base, _ = multimodal.jpeg_decode_gray(multimodal.jpeg_encode_gray(img))
        prog, n_scans = multimodal.jpeg_decode_gray_progressive(
            multimodal.jpeg_encode_gray_progressive(img)
        )
        assert n_scans == 6
        assert (base == prog).all()


def test_jpeg_progressive_every_scan_is_load_bearing():
    """Dropping ANY of the six scans must change the decoded pixels (or
    fail) — proves refinement scans are not decorative."""
    import numpy as np

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    p = multimodal.jpeg_encode_gray_progressive(img)
    full, n_scans = multimodal.jpeg_decode_gray_progressive(p)
    assert n_scans == 6
    # split payload at each SOS; rebuild with one scan removed
    import struct

    def segments(payload):
        out, pos = [], 2
        while pos < len(payload) - 2:
            marker = payload[pos + 1]
            ln = struct.unpack_from(">H", payload, pos + 2)[0]
            end = pos + 2 + ln
            if marker == 0xDA:  # entropy data follows until next marker
                i = end
                while i < len(payload) - 1 and not (
                    payload[i] == 0xFF and payload[i + 1] != 0x00
                ):
                    i += 1
                end = i
            out.append((marker, payload[pos:end]))
            pos = end
        return out

    segs = segments(p)
    sos_idx = [i for i, (m, _) in enumerate(segs) if m == 0xDA]
    assert len(sos_idx) == 6
    for drop in sos_idx:
        rebuilt = b"\xff\xd8" + b"".join(
            s for i, (m, s) in enumerate(segs) if i != drop
        ) + b"\xff\xd9"
        try:
            img2, ns = multimodal.jpeg_decode_gray_progressive(rebuilt)
        except ValueError:
            continue  # a missing-scan stream may be outright invalid
        assert ns == 5
        assert not (img2 == full).all(), f"scan {drop} was not load-bearing"


def test_jpeg_progressive_rejects_out_of_subset():
    import numpy as np

    base = multimodal.jpeg_encode_gray(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError, match="non-progressive"):
        multimodal.jpeg_decode_gray_progressive(base)
    with pytest.raises(ValueError):
        multimodal.jpeg_decode_gray_progressive(b"not a jpeg")
    prog = multimodal.jpeg_encode_gray_progressive(
        np.zeros((8, 8), np.uint8)
    )
    with pytest.raises(ValueError):
        multimodal.jpeg_decode_gray_progressive(prog[:30])


def test_jpeg_progressive_fixture_traps_are_armed(spark, sf_dir):
    """COM walk on ids%3==0, six scans, closed-form flat levels decode
    exactly (what makes the oracle symbolic)."""
    rows = multimodal.synth_jpeg_progressive_payload(
        load(spark, sf_dir, "documents").select("doc_id").filter(
            "doc_id < 9"
        )
    ).collect()
    assert len(rows) == 9
    for r in rows:
        p = bytes(r.payload)
        d = int(r.doc_id)
        assert (b"\xff\xfe" in p) == (d % 3 == 0), d
        img, ns = multimodal.jpeg_decode_gray_progressive(p)
        assert ns == 6 and img.shape == (16, 16)
        for by in range(2):
            for bx in range(2):
                v = 2 * ((d * 7 + by * 3 + bx * 5) % 100) + 40
                blk = img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                assert (blk == v).all(), (d, by, bx)


# --- REAL codec #8: animated GIF + frame sampling (r11) -----------------------


def test_gif_animated_roundtrip_and_metadata():
    import numpy as np

    c = np.arange(16, dtype=np.int64)
    pal = np.stack([(11 * c) % 256, (5 * c) % 251, (13 * c) % 247],
                   axis=-1).astype(np.uint8)
    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 16, (8, 12)).astype(np.uint8)
              for _ in range(4)]
    p = multimodal.gif_encode_animated(
        frames, pal, [1, 2, 3, 4], loop_count=7, max_sub_block=5
    )
    fr, delays, loops, nc = multimodal.gif_decode_animated(p)
    assert len(fr) == 4 and delays == [1, 2, 3, 4]
    assert loops == 7 and nc == 16
    for f, idx in zip(fr, frames):
        assert (f == pal[idx]).all()


def test_gif_animated_rejects_out_of_subset():
    import numpy as np

    c = np.arange(4, dtype=np.int64)
    pal = np.stack([c, c, c], axis=-1).astype(np.uint8)
    single = multimodal.gif_encode(
        np.zeros((4, 4), np.uint8), pal, version=b"87a"
    )
    with pytest.raises(ValueError, match="89a"):
        multimodal.gif_decode_animated(single)  # 87a cannot animate
    anim = multimodal.gif_encode_animated(
        [np.zeros((4, 4), np.uint8)] * 2, pal, [1, 2]
    )
    # the single-frame decoder keeps its strict one-image contract
    with pytest.raises(ValueError):
        multimodal.gif_decode(anim)


def test_gif_animated_fixture_traps_are_armed(spark, sf_dir):
    """Mid-stream comment on ids%3==0, per-frame delays, closed-form
    solid frames, loop counts."""
    rows = multimodal.synth_gif_animated_payload(
        load(spark, sf_dir, "documents").select("doc_id").filter(
            "doc_id < 9"
        )
    ).collect()
    assert len(rows) == 9
    for r in rows:
        d = int(r.doc_id)
        p = bytes(r.payload)
        assert (b"\x21\xfe" in p) == (d % 3 == 0), d
        frames, delays, loops, nc = multimodal.gif_decode_animated(p)
        assert len(frames) == 2 + d % 4 and nc == 8
        assert loops == d % 3
        assert delays == [4 + (d + f) % 7 for f in range(len(frames))]
        for f, fr in enumerate(frames):
            k = (d * 3 + 5 * f) % 8
            want = (
                (d * 7 + 11 * k) % 256,
                (d * 19 + 5 * k) % 251,
                (d * 23 + 13 * k) % 247,
            )
            assert (fr == want).all(), (d, f)


# --- REAL codec #9: restart intervals (DRI/RSTm), r12 -----------------------


def test_jpeg_restart_roundtrip_matches_no_restart_decode():
    """Restart markers change only the entropy framing, never the
    coefficients: with-DRI decode must equal no-DRI decode bit-for-bit
    across baseline gray, baseline color, and progressive — at
    intervals that land mid-row, on row boundaries, and past the image
    (never fire)."""
    import numpy as np

    rng = np.random.default_rng(42)
    gray = rng.integers(0, 256, (24, 32), np.uint8)
    g0, _ = multimodal.jpeg_decode_gray(multimodal.jpeg_encode_gray(gray))
    for ri in (1, 2, 3, 5, 7, 99):
        g, nb = multimodal.jpeg_decode_gray(
            multimodal.jpeg_encode_gray(gray, restart_interval=ri)
        )
        assert nb == 12 and (g == g0).all(), ri
    color = rng.integers(0, 256, (32, 48, 3), np.uint8)
    c0, _ = multimodal.jpeg_decode_color(multimodal.jpeg_encode_color(color))
    for ri in (1, 2, 3, 5):
        c, nm = multimodal.jpeg_decode_color(
            multimodal.jpeg_encode_color(color, restart_interval=ri)
        )
        assert nm == 6 and (c == c0).all(), ri
    p0, _ = multimodal.jpeg_decode_gray_progressive(
        multimodal.jpeg_encode_gray_progressive(gray)
    )
    for ri in (1, 2, 3, 5, 7):
        p, ns = multimodal.jpeg_decode_gray_progressive(
            multimodal.jpeg_encode_gray_progressive(gray, restart_interval=ri)
        )
        assert ns == 6 and (p == p0).all(), ri


def test_jpeg_restart_fuzz_all_paths():
    """Random images x random dims x every interval: the three DRI-aware
    codecs round-trip equal to their no-DRI decode (the progressive
    refine scans cross EOB-run/correction-bit state with the restart
    flush — exactly where a mis-flushed encoder desyncs)."""
    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(12):
        bh, bw = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        img = rng.integers(0, 256, (bh * 8, bw * 8), np.uint8)
        d0, _ = multimodal.jpeg_decode_gray(multimodal.jpeg_encode_gray(img))
        q0, _ = multimodal.jpeg_decode_gray_progressive(
            multimodal.jpeg_encode_gray_progressive(img)
        )
        for ri in (1, 2, 3):
            d, _ = multimodal.jpeg_decode_gray(
                multimodal.jpeg_encode_gray(img, restart_interval=ri)
            )
            assert (d == d0).all()
            q, _ = multimodal.jpeg_decode_gray_progressive(
                multimodal.jpeg_encode_gray_progressive(
                    img, restart_interval=ri
                )
            )
            assert (q == q0).all()


def test_jpeg_restart_markers_are_load_bearing():
    """A swapped RSTm id must fail the modulo-8 sequence check in every
    decoder; stripping DRI from the header (markers still in the data)
    must fail entropy decoding — the decoders really read both."""
    import numpy as np
    import struct

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 24), np.uint8)
    for enc, dec in (
        (multimodal.jpeg_encode_gray, multimodal.jpeg_decode_gray),
        (
            multimodal.jpeg_encode_gray_progressive,
            multimodal.jpeg_decode_gray_progressive,
        ),
    ):
        p = enc(img, restart_interval=2)
        bad = bytearray(p)
        idx = bad.find(b"\xff\xd0")
        assert idx > 0, "fixture produced no RST0"
        bad[idx + 1] = 0xD6
        with pytest.raises(ValueError, match="RST sequence"):
            dec(bytes(bad))
        # strip the DRI segment: 4-byte body FF DD 00 04 + 2 payload
        dri = p.index(b"\xff\xdd")
        stripped = p[:dri] + p[dri + 6:]
        with pytest.raises(ValueError):
            dec(stripped)
    cimg = rng.integers(0, 256, (32, 32, 3), np.uint8)
    p = multimodal.jpeg_encode_color(cimg, restart_interval=1)
    bad = bytearray(p)
    idx = bad.find(b"\xff\xd0")
    bad[idx + 1] = 0xD3
    with pytest.raises(ValueError, match="RST sequence"):
        multimodal.jpeg_decode_color(bytes(bad))


def test_jpeg_restart_dc_reset_is_real():
    """The encoder resets its DC predictor at every marker; a payload
    whose post-marker block encodes an UNRESET difference decodes to
    wrong levels under a conforming decoder — pin by re-encoding with
    the predictor carried across (simulated via the no-restart entropy
    stream spliced behind a DRI header), which must NOT equal the
    restart stream."""
    import numpy as np

    img = np.zeros((8, 32), np.uint8)
    for bx, v in enumerate((40, 120, 200, 60)):
        img[:, bx * 8:bx * 8 + 8] = v
    with_rst = multimodal.jpeg_encode_gray(img, restart_interval=2)
    without = multimodal.jpeg_encode_gray(img)
    # the entropy payloads must differ beyond the inserted markers:
    # block 3's DC diff is (200-128)/2-(120-128)/2 without restart but
    # (200-128)/2-0 with — remove marker bytes and compare
    sos = with_rst.index(b"\xff\xda") + 14
    body = with_rst[sos:-2]
    for m in range(8):
        body = body.replace(bytes([0xFF, 0xD0 + m]), b"")
    assert body != without[without.index(b"\xff\xda") + 14:-2]
    dec, _ = multimodal.jpeg_decode_gray(with_rst)
    assert (dec == img).all()


def test_jpeg_restart_fixture_traps_are_armed(spark, sf_dir):
    """Entry fixture: even ids baseline DRI=2 (4 markers), odd ids
    progressive DRI=3 (12 markers across 6 scans), COM walk on ids%3,
    exact flat-block reconstruction on both paths."""
    rows = multimodal.decode_features_jpeg_restart(
        multimodal.synth_jpeg_restart_payload(
            load(spark, sf_dir, "documents").select("doc_id").filter(
                "doc_id < 12"
            ),
            blocks=3,
        )
    ).collect()
    assert len(rows) == 12
    for r in rows:
        d = int(r.doc_id)
        assert r.width == 24 and r.height == 24
        assert r.n_restarts == (4 if d % 2 == 0 else 12), d
        want = sum(
            (2 * ((d * 7 + by * 3 + bx * 5) % 100) + 40)
            * (by * 3 + bx + 1)
            for by in range(3)
            for bx in range(3)
        )
        assert r.wsum_gray == float(want), d


def test_jpeg_restart_features_ignore_marker_bytes_in_com(spark):
    """A COM body holding FF C2 FF D0 (the SOF2 and RST0 byte pairs)
    spliced into a baseline gray payload with restart markers changes
    nothing: the frame type comes from the SOF segment and only RSTm
    markers inside the entropy-coded data count."""
    base = multimodal.jpeg_encode_gray(
        multimodal._flat_gray(0, 3), restart_interval=2
    )
    spliced = multimodal._splice_com(base, 0, b"\xff\xc2\xff\xd0")
    assert spliced != base
    df = spark.createDataFrame(
        [(0, base), (1, spliced)], "doc_id long, payload binary"
    )
    rows = {
        r.doc_id: tuple(r)[1:]
        for r in multimodal.decode_features_jpeg_restart(df).collect()
    }
    assert rows[1] == rows[0]
    assert rows[0][:3] == (24, 24, 4)


def test_codec_truncated_payloads_raise_value_error():
    """Every proper prefix of a valid payload is a truncated file, and
    every codec family rejects each one with ValueError — not
    IndexError or struct.error from reading past the end, and not a
    silent decode (a progressive prefix cut before its first SOS used
    to return a flat image with 0 scans)."""
    import numpy as np

    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (16, 16), np.uint8)
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    cases = [
        (multimodal.jpeg_encode_gray(gray, restart_interval=2),
         multimodal.jpeg_decode_gray),
        (multimodal.jpeg_encode_color(
            rng.integers(0, 256, (32, 32, 3), np.uint8)),
         multimodal.jpeg_decode_color),
        (multimodal.jpeg_encode_gray_progressive(gray),
         multimodal.jpeg_decode_gray_progressive),
        (multimodal.gif_encode(
            rng.integers(0, 8, (8, 8)).astype(np.uint8), pal,
            version=b"89a", comment=b"hi", max_sub_block=7),
         multimodal.gif_decode),
        (multimodal.gif_encode_animated(
            [rng.integers(0, 8, (6, 6)).astype(np.uint8)] * 3, pal,
            [1, 2, 3], max_sub_block=9),
         multimodal.gif_decode_animated),
    ]
    for payload, decode in cases:
        decode(payload)
        for k in range(len(payload)):
            with pytest.raises(ValueError):
                decode(payload[:k])


def test_sql_string_builders_match_column_forms(spark, sf_dir):
    """Round-12 construction-cost twins: the single-parse SQL-string
    builders (ngrams/shingles/hashed/minhash fold/banded keys) must be
    value-identical to the Column-API forms they replaced on the hot
    paths — on the corpus AND the NULL/empty/short-doc edges."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    edge = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text=""),
         Row(doc_id=3, text="one"), Row(doc_id=4, text="one two"),
         Row(doc_id=5, text="a b c d"), Row(doc_id=6, text="  x   y  z  ")]
    )

    def col_form_ngrams(col, k):
        w = dedup.tokens(col)
        views = [w.alias("t0")] + [
            F.slice(w, i + 1, F.size(w)).alias(f"t{i}") for i in range(1, k)
        ]
        grams = F.transform(
            F.arrays_zip(*views),
            lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(k)]),
        )
        return F.slice(grams, 1, F.greatest(F.size(w) - (k - 1), F.lit(0)))

    for frame in (docs, edge):
        old = frame.select("doc_id",
                           col_form_ngrams(F.col("text"), 3).alias("g"))
        new = frame.select("doc_id",
                           dedup.word_ngrams("text", 3).alias("g"))
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
        oldh = frame.select(
            "doc_id",
            F.transform(F.array_distinct(col_form_ngrams(F.col("text"), 3)),
                        lambda g: F.xxhash64(g)).alias("s"))
        newh = frame.select("doc_id",
                            dedup.hashed_shingles("text", 3).alias("s"))
        assert oldh.exceptAll(newh).count() == 0
        assert newh.exceptAll(oldh).count() == 0

    # minhash fold + banded keys: SQL forms vs the Column-API originals
    sh = dedup.spread(docs).select(
        F.col("doc_id").alias("_id"),
        dedup.hashed_shingles("text", 3).alias("_s"),
    ).localCheckpoint(eager=True)
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("bigint"), 64)
    old_sig = sh.filter(F.size("_s") > 0).select(
        "_id",
        F.aggregate(
            F.col("_s"), init,
            lambda acc, g: F.transform(
                acc, lambda a, i: F.least(a, F.xxhash64(g, i))
            ),
        ).alias("_sig"),
    )
    new_sig = dedup.minhash_signatures(sh, "_id", "_s", 64)
    assert old_sig.exceptAll(new_sig).count() == 0
    assert new_sig.exceptAll(old_sig).count() == 0

    sig = new_sig.localCheckpoint(eager=True)
    rows = 4
    old_banded = sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[
                    F.element_at("_sig", b * rows + j + 1)
                    for j in range(rows)
                ]).alias("key"),
            ) for b in range(16)
        ])).alias("_bk"),
    ).select("_id", "_bk.band", "_bk.key")
    new_banded = dedup._banded_keys(sig, 64, 16)
    assert old_banded.exceptAll(new_banded).count() == 0
    assert new_banded.exceptAll(old_banded).count() == 0


def test_r13_single_parse_twins_match_column_forms(spark, sf_dir):
    """Round-13 construction-cost twins: the SQL-string LSH builders
    (band_buckets, lsh_bucket, random_projection's constant-vector dot)
    and simhash_signature's single-parse votes/reassembly must be
    value-identical to the Column-API forms they replaced (the plan may
    differ only in lambda-variable names / struct spelling); those
    Column forms live only here."""
    from pyspark.sql import functions as F
    from cassandra_sql_spark.pipeline import similarity

    emb = load(spark, sf_dir, "embeddings")

    def same(a, b):
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    # Column-API forms of the constant-vector dot and the sign bucket
    def col_dot_lit(vec, w):
        return F.aggregate(
            F.zip_with(
                vec, similarity._flit_array(w),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def col_bucket(vec, first_plane, rows):
        bucket = F.lit(0).cast("long")
        for r in range(rows):
            w = similarity._plane_weights(first_plane + r)
            bucket = bucket + F.when(
                col_dot_lit(vec, w) > 0, F.lit(2**r)
            ).otherwise(F.lit(0))
        return bucket

    vec = F.col("embedding")
    same(
        emb.select("vec_id", F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                col_bucket(vec, b * 2, 2).alias("bucket"),
            ) for b in range(16)
        ])).alias("bb")),
        emb.select(
            "vec_id",
            F.explode(similarity.band_buckets("embedding", 16, 2)).alias("bb"),
        ),
    )
    # lsh_bucket is band 0 of a one-band band_buckets_sql
    for planes in (4, 8):
        same(
            emb.select("vec_id", col_bucket(vec, 0, planes).alias("b")),
            emb.select(
                "vec_id", similarity.lsh_bucket("embedding", planes).alias("b")
            ),
        )
    # random_projection folds through _dot_lit_sql
    signs = similarity.projection_signs(64, 16)
    same(
        emb.select("vec_id", *[
            F.round(col_dot_lit(vec, signs[j]) / 4.0, 6).alias(f"p{j:02d}")
            for j in range(16)
        ]),
        similarity.random_projection(emb),
    )

    # _flit_array constant-folds to the identical double literals
    w = [0.123, -1.0, 0.0, 1e-05, -0.999]
    lit_old = emb.select(F.array(*[F.lit(float(x)) for x in w]).alias("a"))
    lit_new = emb.select(similarity._flit_array(w).alias("a"))
    assert lit_old.exceptAll(lit_new).count() == 0

    # simhash: single-parse votes/reassembly vs the Column original,
    # BOTH hash families (md5 is the oracle-portable twin)
    docs = load(spark, sf_dir, "documents")

    def old_form(df, hash_family):
        if hash_family == "md5":
            grams = F.transform(
                dedup.word_shingles("text"),
                lambda s: F.conv(
                    F.substring(F.md5(s), 1, 15), 16, 10
                ).cast("bigint"),
            )
        else:
            grams = dedup.hashed_shingles("text")
        ex = dedup.spread(df).select(
            F.col("doc_id").alias("_id"), F.explode(grams).alias("_h")
        )
        votes = ex.groupBy("_id").agg(
            *[
                F.sum(
                    (F.shiftright("_h", b).bitwiseAND(F.lit(1)) * 2 - 1)
                ).alias(f"v{b}")
                for b in range(64)
            ]
        )
        sig = F.lit(0).cast("long")
        for b in range(64):
            sig = sig + F.when(
                F.col(f"v{b}") > 0,
                F.lit(1).cast("long")
                * (2**b if b < 63 else -(2**63)),
            ).otherwise(0)
        return votes.select("_id", sig.alias("simhash"))

    for fam in ("xxhash64", "md5"):
        old = old_form(docs, fam)
        new = dedup.simhash_signature(docs, "doc_id", "text", fam)
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_r13_cascade_index_partitioning_and_nonce(spark, sf_dir):
    """Round-13 cascade materialization: the persisted index must (a)
    carry its hash partitioning through InMemoryTableScan so a _g-keyed
    aggregation above it plans NO exchange of its own, and (b) embed a
    per-invocation nonce so Spark's CacheManager can never serve one
    invocation's materialized index to a plan-identical other — every
    invocation recomputes from the parquet inputs."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    a = dedup._ngram_pair_intersections(docs, "doc_id", "text", 3, 64)
    b = dedup._ngram_pair_intersections(docs, "doc_id", "text", 3, 64)
    # (b) two invocations are NOT plan-identical (the nonce differs),
    # so neither can be served from the other's cache entry
    pa = a._jdf.queryExecution().analyzed().toString()
    pb = b._jdf.queryExecution().analyzed().toString()
    assert pa != pb, "cascade invocations must not share a cache entry"
    # values are of course identical
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # (a) a _g-keyed agg directly over the persisted index plans no
    # exchange above the InMemoryTableScan (the consumer part of the
    # plan tree is everything before the cached relation's own subplan)
    docs2 = load(spark, sf_dir, "documents")
    grams = F.expr(
        "element_at(transform(array("
        + dedup.shingles_sql("`text`", 3)
        + "), s -> transform(s, g -> named_struct('_n', size(s), "
        "'_g', xxhash64(g)))), 1)"
    )
    from pyspark import StorageLevel

    ex = (
        dedup.spread(docs2)
        .select(F.col("doc_id").alias("_id"), F.explode(grams).alias("_e"))
        .select(F.col("_e._g").alias("_g"))
        .repartition("_g")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        ex.count()
        agg = ex.groupBy("_g").count()
        agg.write.mode("overwrite").format("noop").save()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        consumer = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in consumer
        assert "Exchange" not in consumer, (
            "the _g-keyed agg re-shuffled the pre-partitioned index:\n"
            + consumer
        )
    finally:
        ex.unpersist()
