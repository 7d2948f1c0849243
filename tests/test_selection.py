"""Behavioral properties of the data-selection operators
(pipeline/selection.py) — the oracle compare in test_queries_oracle pins
value equality; these pin the *semantics*: budget conservation, epoch
caps, target enrichment, dispersion geometry.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import selection


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


def _unimax(spark, source, budget_frac, max_epochs):
    return {
        r["source"]: r
        for r in spark.sql(
            selection.unimax_allocation_sql(
                table="documents",
                source=source,
                budget_frac=budget_frac,
                max_epochs=max_epochs,
            )
        ).collect()
    }


def test_unimax_conserves_budget_and_respects_caps(spark, docs):
    docs.createOrReplaceTempView("documents")
    total = docs.count()
    budget = math.floor(total * 1.8 + 0.5)
    rows = _unimax(spark, "lang", 1.8, 2)
    assert sum(r["alloc"] for r in rows.values()) == pytest.approx(budget)
    for r in rows.values():
        assert r["alloc"] <= r["capacity"] + 1e-9
        assert r["epochs"] <= 2 + 1e-9
        assert r["epochs"] == pytest.approx(r["alloc"] / r["n_docs"])
    # skewed corpus: the dominant language must NOT be epoch-capped while
    # at least one small language is (both waterfilling branches taken)
    big = max(rows.values(), key=lambda r: r["n_docs"])
    assert big["epochs"] < 2
    assert any(r["epochs"] == pytest.approx(2.0) for r in rows.values())


def test_unimax_uniform_sources_split_evenly(spark, docs):
    docs.createOrReplaceTempView("documents")
    rows = _unimax(spark, "source", 1.0, 3)
    allocs = {round(r["alloc"], 6) for r in rows.values()}
    ns = {r["n_docs"] for r in rows.values()}
    if len(ns) == 1:  # synthetic corpus: sources are uniform
        assert len(allocs) == 1  # equal fair shares, nobody capped


def test_unimax_matches_sequential_waterfilling(spark, docs):
    """The window-function closed form equals the paper's sequential
    greedy loop (alg. 1): visit sources by ascending capacity, grant
    min(cap, remaining / sources_left)."""
    docs.createOrReplaceTempView("documents")
    for frac, epochs in ((1.8, 2), (0.5, 1), (3.0, 2), (1.2, 4)):
        rows = _unimax(spark, "lang", frac, epochs)
        sizes = sorted(
            ((r["capacity"], s) for s, r in rows.items())
        )
        total = sum(r["n_docs"] for r in rows.values())
        remaining = math.floor(total * frac + 0.5)
        left = len(sizes)
        for cap, s in sizes:
            grant = min(float(cap), remaining / left)
            assert rows[s]["alloc"] == pytest.approx(grant), (s, frac)
            remaining -= grant
            left -= 1


def test_dsir_enriches_target_domain(spark, docs):
    w = selection.dsir_bucket_weights(docs, "text", F.col("lang") == "en")
    d = selection.dsir_doc_weights(docs, "doc_id", "text", w)
    sel = selection.dsir_select_topk(d, "doc_id", 0.25)
    joined = sel.join(docs.select("doc_id", "lang"), "doc_id").collect()
    n = len(joined)
    kept = [r for r in joined if r["keep"]]
    assert len(kept) == math.ceil(n * 0.25)
    # importance weights must rank the target domain above the rest on
    # average — that is the whole point of DSIR
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    en = [r["logw"] for r in joined if r["lang"] == "en"]
    rest = [r["logw"] for r in joined if r["lang"] != "en"]
    assert mean(en) > mean(rest)
    # and the kept slice must be en-enriched vs the corpus base rate
    frac_en_kept = sum(1 for r in kept if r["lang"] == "en") / len(kept)
    frac_en_all = len(en) / n
    assert frac_en_kept > frac_en_all


def test_unigram_lm_tiers_track_token_rarity(spark, docs):
    lm = selection.unigram_lm_table(docs, "text")
    scored = selection.perplexity_buckets(
        selection.unigram_nll(docs, "doc_id", "text", lm), "doc_id"
    ).collect()
    n = len(scored)
    sizes = {"head": 0, "middle": 0, "tail": 0}
    for r in scored:
        sizes[r["bucket"]] += 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # tiers are ordered by NLL: every head doc <= every tail doc
    head_max = max(r["nll"] for r in scored if r["bucket"] == "head")
    tail_min = min(r["nll"] for r in scored if r["bucket"] == "tail")
    assert head_max <= tail_min
    # NLL is a mean of -ln p with p < 1, so strictly positive
    assert all(r["nll"] > 0 for r in scored)


def test_label_dispersion_matches_bruteforce(spark, sf_dir):
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    got = {
        r["label"]: r
        for r in selection.label_dispersion(
            emb, "label", "embedding"
        ).collect()
    }
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    for label, vecs in by_label.items():
        x = np.stack(vecs)
        c = x.mean(axis=0)
        expect = float(((x - c) ** 2).sum(axis=1).mean())
        r = got[label]
        assert r["n_vecs"] == len(vecs)
        # 6dp scaled-int rounding inside the operator -> loose tolerance
        assert r["dispersion"] == pytest.approx(expect, abs=1e-3)
        assert r["dispersion"] >= 0


# --- UniMax closed form == sequential greedy on arbitrary distributions ----
# (DuckDB executes the same SQL string the Spark entry runs; hypothesis
# drives random source-size multisets and budget/cap settings.)

from hypothesis import given, settings, strategies as st


def _greedy_unimax(counts, budget_frac, max_epochs):
    total = sum(counts.values())
    budget = math.floor(total * budget_frac + 0.5)
    order = sorted(counts, key=lambda s: (counts[s] * max_epochs, s))
    remaining, left, out = float(budget), len(order), {}
    for s in order:
        cap = counts[s] * max_epochs
        grant = min(float(cap), remaining / left)
        out[s] = grant
        remaining -= grant
        left -= 1
    return budget, out


@settings(max_examples=40, deadline=None)
@given(
    counts=st.lists(st.integers(1, 400), min_size=1, max_size=12),
    budget_frac=st.sampled_from([0.3, 0.75, 1.0, 1.5, 2.4]),
    max_epochs=st.sampled_from([1, 2, 4]),
)
@pytest.mark.slow
def test_unimax_sql_equals_greedy_hypothesis(counts, budget_frac, max_epochs):
    import duckdb

    from cassandra_sql_spark.pipeline.selection import unimax_allocation_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE srcs (source VARCHAR, n BIGINT)"
    )
    named = {f"s{i:02d}": c for i, c in enumerate(counts)}
    con.executemany(
        "INSERT INTO srcs VALUES (?, ?)", list(named.items())
    )
    # expand to one row per doc (the SQL groups the raw table itself)
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT source FROM srcs, UNNEST(generate_series(1, n))"
    )
    rows = con.execute(
        unimax_allocation_sql(
            source="source", budget_frac=budget_frac, max_epochs=max_epochs
        )
    ).fetchall()
    budget, expect = _greedy_unimax(named, budget_frac, max_epochs)
    assert len(rows) == len(named)
    got = {r[0]: r for r in rows}
    for s, grant in expect.items():
        src, n_docs, capacity, alloc, epochs = got[s]
        assert n_docs == named[s]
        assert capacity == named[s] * max_epochs
        assert alloc == pytest.approx(grant, abs=1e-9), (s, counts)
        assert epochs == pytest.approx(grant / named[s], abs=1e-9)
    assert sum(r[3] for r in rows) == pytest.approx(
        min(budget, sum(named[s] * max_epochs for s in named))
    )


def test_selection_ops_handle_degenerate_docs(spark):
    """Empty text, single tokens, and whitespace must not crash or emit
    NaN/None scores — the edges a real corpus always contains."""
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "one"),
            (3, "   "),
            (4, "a a a a"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id BIGINT, text STRING",
    )
    lm = selection.unigram_lm_table(docs, "text")
    scored = selection.perplexity_buckets(
        selection.unigram_nll(docs, "doc_id", "text", lm), "doc_id"
    ).collect()
    assert len(scored) == 5  # every doc scores (empty text -> '' token)
    assert all(r["nll"] is not None and r["nll"] == r["nll"] for r in scored)

    w = selection.dsir_bucket_weights(docs, "text", F.col("doc_id") == 5)
    d = selection.dsir_select_topk(
        selection.dsir_doc_weights(docs, "doc_id", "text", w), "doc_id"
    ).collect()
    assert len(d) == 5
    by_id = {r["doc_id"]: r for r in d}
    # docs 1-3 have no bigram: zero features, zero weight, still ranked
    for i in (1, 2, 3):
        assert by_id[i]["n_feats"] == 0 and by_id[i]["logw"] == 0.0
    assert sum(1 for r in d if r["keep"]) == 2  # ceil(5 * 0.25)


@pytest.mark.slow
def test_bloom_decontam_empty_eval_flags_nothing(spark):
    from cassandra_sql_spark.pipeline import dedup

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id BIGINT, text STRING",
    )
    eval_df = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    out = dedup.bloom_decontam(train, eval_df, "doc_id", "text").collect()
    assert len(out) == 1 and not out[0]["flagged"]


def test_unimax_dataframe_form_equals_sql_form(spark, docs):
    """r12: the sharded_multi UniMax (rank + prefix in one shard pass,
    no unpartitioned window) must produce the SQL waterfilling's exact
    rows — integer-for-integer on n_docs/capacity, bit-for-bit on the
    alloc/epochs divisions (both are single divisions of the same exact
    integers)."""
    docs.createOrReplaceTempView("documents")
    sql_rows = {
        r["source"]: tuple(r)
        for r in spark.sql(
            selection.unimax_allocation_sql(
                table="documents", source="source",
                budget_frac=0.9, max_epochs=2,
            )
        ).collect()
    }
    df_rows = {
        r["source"]: tuple(r)
        for r in selection.unimax_allocation(
            docs, source="source", budget_frac=0.9, max_epochs=2
        ).collect()
    }
    assert df_rows == sql_rows and len(df_rows) > 1


def test_perplexity_buckets_closed_form_equals_ntile_window(spark, docs):
    """r12: the closed-form NTILE over sharded_rank must equal the
    plain window NTILE(3) row-for-row (exceptAll both ways), across
    sizes that exercise every n % 3 residue including n < 3."""
    from pyspark.sql import Window

    lm = selection.unigram_lm_table(docs, "text")
    scored = selection.unigram_nll(docs, "doc_id", "text", lm)
    for n in (1, 2, 3, 4, 5):
        sub = scored.limit(n)
        got = selection.perplexity_buckets(sub, "doc_id")
        w = Window.orderBy(F.col("nll"), F.col("doc_id"))
        tier = F.ntile(3).over(w)
        want = sub.select(
            "*",
            F.when(tier == 1, "head")
            .when(tier == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
