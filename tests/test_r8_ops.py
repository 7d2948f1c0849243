"""Semantic property checks for the round-8 entries — invariants that
hold for ANY input, guarding the operators' meaning when fixtures change
(the oracle hash gate proves engine agreement, not semantic sanity)."""

from __future__ import annotations

import math

from cassandra_sql_spark.io import load
from cassandra_sql_spark.queries import REGISTRY


def _rows(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir).collect()


def test_clustering_coeff_in_unit_interval_and_triangle_consistent(
    spark, sf_dir
):
    rows = _rows(spark, sf_dir, "graph_clustering_coeff")
    assert rows
    tri_credit = 0
    for r in rows:
        assert 0.0 <= r.clustering_coeff <= 1.0, r
        assert r.n_triangles * 2 <= r.degree * (r.degree - 1) or (
            r.degree < 2 and r.n_triangles == 0
        ), r
        tri_credit += r.n_triangles
    # every triangle credits exactly three corners
    total = _rows(spark, sf_dir, "graph_triangle_count")[0].n_triangles
    assert tri_credit == 3 * total


def test_jaccard_neighbors_bounded_and_ordered(spark, sf_dir):
    rows = _rows(spark, sf_dir, "graph_jaccard_neighbors")
    assert rows
    last = None
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0, r
        assert r.shared_neighbors <= min(r.deg_a, r.deg_b), r
        key = (-r.jaccard, r.page_a, r.page_b)
        assert last is None or last <= key
        last = key


def test_kendall_tau_within_unit_and_consistent(spark, sf_dir):
    r = _rows(spark, sf_dir, "stat_kendall_tau")[0]
    assert -1.0 <= r.tau_b <= 1.0
    assert r.concordant + r.discordant + r.y_tie_pairs == r.n_pairs


def test_theil_sen_slope_matches_reported_fraction(spark, sf_dir):
    r = _rows(spark, sf_dir, "stat_theil_sen")[0]
    assert r.med_dx > 0
    assert r.theil_sen_slope == r.med_dy / r.med_dx


def test_ols_r2_in_unit_interval(spark, sf_dir):
    rows = _rows(spark, sf_dir, "stat_ols_trend")
    assert rows
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0 + 1e-12, r
        assert math.isfinite(r.slope) and math.isfinite(r.intercept)


def test_kruskal_wallis_nonnegative_and_tie_correction_inflates(
    spark, sf_dir
):
    r = _rows(spark, sf_dir, "stat_kruskal_wallis")[0]
    assert r.h_stat >= 0.0
    # dividing by C in (0, 1] can only grow H
    assert r.h_tie_corrected >= r.h_stat - 1e-9
    assert r.n_groups >= 2


def test_stickiness_is_a_ratio_of_actives(spark, sf_dir):
    for r in _rows(spark, sf_dir, "event_stickiness"):
        # avg DAU cannot exceed MAU
        assert 0.0 < r.stickiness <= 1.0, r
        assert r.sum_dau >= r.mau  # every MAU user has >= 1 active day


def test_churn_partitions_actives(spark, sf_dir):
    for r in _rows(spark, sf_dir, "event_churn_weekly"):
        assert r.n_retained + r.n_churned == r.n_active, r
        assert 0.0 <= r.churn_rate <= 1.0


def test_sentence_dedup_counts_are_consistent(spark, sf_dir):
    rows = _rows(spark, sf_dir, "text_sentence_dedup")
    assert rows
    for r in rows:
        assert 0 <= r.n_dup_sents <= r.n_sents, r
        assert abs(r.dup_ratio - r.n_dup_sents / r.n_sents) < 1e-12


def test_containment_at_least_jaccard_on_shared_pairs(spark, sf_dir):
    """C(A,B) >= J(A,B) always (min(|A|,|B|) <= |A u B|)."""
    cont = {
        (r.da, r.db): r.containment
        for r in _rows(spark, sf_dir, "dedup_containment")
    }
    assert cont
    jac = {
        (r.da, r.db): r.jaccard
        for r in _rows(spark, sf_dir, "dedup_ngram_jaccard")
    }
    for pair, j in jac.items():
        if pair in cont:
            assert cont[pair] >= j - 1e-12, pair
    # and high-Jaccard pairs are necessarily high-containment: every
    # J >= 0.8 pair must appear in the containment >= 0.8 output
    for pair, j in jac.items():
        if j >= 0.8:
            assert pair in cont, pair


def test_range_search_contains_topk_above_threshold(spark, sf_dir):
    """Range search at tau and top-k over the same probe set agree:
    every top-k hit scoring >= tau is in the range result with the
    same score."""
    rng = {r.vec_id: r.score for r in _rows(spark, sf_dir, "sim_range_search")}
    top = _rows(spark, sf_dir, "sim_lsh_multiprobe")
    for r in top:
        if r.score >= 0.12:
            assert rng.get(r.vec_id) == r.score, r


def test_revenue_growth_identities(spark, sf_dir):
    rows = _rows(spark, sf_dir, "series_revenue_mom_yoy")
    assert len(rows) >= 13  # orders span years
    by_key = {r.month_key: r for r in rows}
    for r in rows:
        if r.mom_growth is not None and (r.month_key - 1) in by_key:
            prev = by_key[r.month_key - 1].revenue
            assert r.mom_growth > -1.0 or prev == 0
        assert r.revenue >= 0


def test_hypothetical_rank_formulas(spark, sf_dir):
    for r in _rows(spark, sf_dir, "agg_hypothetical_rank"):
        assert 1 <= r.rank_500 <= r.n + 1
        assert r.dense_rank_500 <= r.rank_500
        assert abs(r.percent_rank_500 - (r.rank_500 - 1) / r.n) < 1e-12


def test_norm_quantiles_monotone(spark, sf_dir):
    rows = _rows(spark, sf_dir, "emb_norm_quantiles")
    assert [r.decile for r in rows] == list(range(1, 10))
    vals = [r.norm_sq for r in rows]
    assert vals == sorted(vals)
    assert all(v >= 0 for v in vals)


def test_seasonal_index_averages_to_one(spark, sf_dir):
    rows = _rows(spark, sf_dir, "series_seasonal_naive")
    assert len(rows) == 7
    # the n_days-weighted mean of the index is EXACTLY 1:
    # sum_w (sw*nt/(nw*st)) * nw = nt * sum(sw)/st = nt
    total_days = sum(r.n_days for r in rows)
    weighted = sum(r.seasonal_index * r.n_days for r in rows) / total_days
    assert abs(weighted - 1.0) < 1e-9
    assert all(r.seasonal_index > 0 for r in rows)


def test_stream_cusum_matches_batch_entry(spark, sf_dir):
    stream = {
        (r.event_type, r.changepoint_day): r.max_cusum
        for r in _rows(spark, sf_dir, "stream_cusum_changepoint")
    }
    batch = {
        (r.event_type, r.changepoint_day): r.max_cusum
        for r in _rows(spark, sf_dir, "series_cusum_changepoint")
    }
    assert stream == batch


def test_stream_distinct_bound_holds(spark, sf_dir):
    r = _rows(spark, sf_dir, "stream_distinct_users_bound")[0]
    assert r.within_bound == 1
    assert r.exact_users > 0


def test_burstiness_function_words_near_poisson(spark, sf_dir):
    rows = _rows(spark, sf_dir, "text_burstiness")
    assert rows
    for r in rows:
        assert r.vmr >= 0.0, r
        assert r.n_docs_present <= r.total_tf


def test_hapax_ratio_bounds(spark, sf_dir):
    for r in _rows(spark, sf_dir, "text_hapax_ratio"):
        assert 0 <= r.hapax <= r.vocab, r
        assert abs(r.hapax_ratio - r.hapax / r.vocab) < 1e-12


def test_audio_pitch_recovers_square_wave_period(spark, sf_dir):
    """best_lag must equal the synth's fundamental period 2h exactly —
    the detector runs on REAL decoded RIFF bytes, so a parser or
    autocorrelation bug shifts the argmax."""
    for r in _rows(spark, sf_dir, "audio_pitch_autocorr"):
        h = 3 + r.doc_id % 5
        assert r.best_lag == 2 * h, r
        assert r.r0 == 96 * 1500 * 1500
        assert r.r_best <= r.r0  # Cauchy-Schwarz


def test_peak_detection_strict_maxima(spark, sf_dir):
    rows = _rows(spark, sf_dir, "series_peak_detection")
    days = [r.peak_day for r in rows]
    assert days == sorted(days)
    # peaks are interior by construction: re-derive the daily series
    daily = {
        r.d: r.n
        for r in load(spark, sf_dir, "events")
        .filter("ts IS NOT NULL")
        .selectExpr("CAST(ts AS DATE) AS d")
        .groupBy("d")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    import datetime

    for r in rows:
        prev = daily.get(sorted(k for k in daily if k < r.peak_day)[-1])
        nxt = daily.get(sorted(k for k in daily if k > r.peak_day)[0])
        assert r.n_events > prev and r.n_events > nxt


def test_filter_funnel_shares_sum_to_one(spark, sf_dir):
    rows = _rows(spark, sf_dir, "pipeline_filter_funnel")
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    assert sum(r.n_docs for r in rows) > 0


def test_shard_assignment_is_balanced_and_total(spark, sf_dir):
    rows = _rows(spark, sf_dir, "shard_assignment")
    assert sorted(r.shard for r in rows) == list(range(16))
    total = sum(r.n_docs for r in rows)
    n_docs = load(spark, sf_dir, "documents").count()
    assert total == n_docs
    # md5 balance: no shard more than 3x the mean on >=500 docs
    if n_docs >= 500:
        mean = total / 16
        assert max(r.n_docs for r in rows) < 3 * mean


def test_graph_degree_cap_is_hub_removal(spark, sf_dir):
    """degree_cap=N drops every node of degree > N (and its edges)
    before the wedge join — verified against a driver-side replica on
    the uncapped edge list. The registry entries run uncapped because
    the page graph is domain-bounded (|pages|=100); the cap is the
    power-law-graph knob (SCALE.md)."""
    from cassandra_sql_spark.queries.graph import (
        _clustering_df,
        _jaccard_neighbors_df,
    )

    full = {
        (r.page, r.degree): r.n_triangles
        for r in _clustering_df(spark, sf_dir).collect()
    }
    cap = sorted(d for _, d in full)[len(full) // 2]  # median degree
    capped_rows = _clustering_df(spark, sf_dir, degree_cap=cap).collect()

    # replica: drop hub nodes, recount degrees + triangles in Python
    edges = [
        (r.a, r.b)
        for r in spark.table("r8_edges_ccoef").collect()
    ]
    from collections import Counter, defaultdict

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    keep = {n for n, d in deg.items() if d <= cap}
    kept_edges = [(a, b) for a, b in edges if a in keep and b in keep]
    deg2 = Counter()
    adj = defaultdict(set)
    for a, b in kept_edges:
        deg2[a] += 1
        deg2[b] += 1
        adj[a].add(b)
        adj[b].add(a)
    tri = Counter()
    for a, b in kept_edges:
        for c in adj[a] & adj[b]:
            # corner c is credited exactly once, by its one opposite
            # edge (a,b) — so tri[c] IS c's triangle count
            tri[c] += 1
    want = {n: (deg2[n], tri[n]) for n in deg2}
    got = {r.page: (r.degree, r.n_triangles) for r in capped_rows}
    assert got == want
    assert all(d <= cap for d, _ in got.values())

    # jaccard: capped run must never surface a hub as either endpoint
    jac = _jaccard_neighbors_df(spark, sf_dir, degree_cap=cap).collect()
    hubs = {n for n, d in deg.items() if d > cap}
    assert all(
        r.page_a not in hubs and r.page_b not in hubs for r in jac
    )
    assert all(r.deg_a <= cap and r.deg_b <= cap for r in jac)
