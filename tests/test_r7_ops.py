"""Semantic property checks for the round-7 entries — invariants that
hold for ANY input, guarding the operators' meaning when fixtures change
(the oracle hash gate proves engine agreement, not semantic sanity)."""

from __future__ import annotations

import math

import pytest

from cassandra_sql_spark.io import load
from cassandra_sql_spark.queries import REGISTRY


def _rows(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir).collect()


def test_ks_d_is_a_probability_distance(spark, sf_dir):
    r = _rows(spark, sf_dir, "stat_ks_two_sample")[0]
    assert 0.0 <= r.ks_d <= 1.0
    assert r.n_purchase > 0 and r.n_click > 0


def test_mann_whitney_u_within_bounds(spark, sf_dir):
    r = _rows(spark, sf_dir, "stat_mann_whitney")[0]
    assert 0.0 <= r.u_stat <= r.n_purchase * r.n_click
    assert math.isfinite(r.z_score)


def test_gini_is_a_concentration_index(spark, sf_dir):
    for r in _rows(spark, sf_dir, "stat_gini"):
        if r.gini is not None:
            # 0 = perfect equality; < 1 always for positive values
            assert 0.0 <= r.gini < 1.0, r


def test_drawdown_nonnegative_and_bounded_by_peak_range(spark, sf_dir):
    for r in _rows(spark, sf_dir, "series_drawdown"):
        assert r.max_drawdown >= 0.0, r
        assert r.n_events > 0


def test_autocorr_is_a_correlation(spark, sf_dir):
    r = _rows(spark, sf_dir, "series_autocorr")[0]
    for v in (r.acf_lag1, r.acf_lag7):
        if v is not None:
            assert -1.0 <= v <= 1.0


def test_attribution_conserves_purchases(spark, sf_dir):
    rows = _rows(spark, sf_dir, "event_attribution")
    total = sum(r.n_purchases for r in rows)
    ev = load(spark, sf_dir, "events")
    expect = ev.filter(
        "event_type = 'purchase' AND ts IS NOT NULL"
    ).count()
    assert total == expect


def test_percentile_disc_returns_actual_values_in_order(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders")
    domain = {
        r.pr: r.vs
        for r in orders.groupBy(
            F.col("o_orderpriority").alias("pr")
        ).agg(F.collect_set("o_totalprice").alias("vs")).collect()
    }
    for r in _rows(spark, sf_dir, "agg_percentile_disc"):
        assert r.p25 <= r.p50 <= r.p75, r
        for v in (r.p25, r.p50, r.p75):
            assert v in domain[r.pr], (r.pr, v)  # DISC: a stored value


def test_weighted_median_is_a_stored_value(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    domain = {
        r.flag: r.vs
        for r in li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.collect_set("l_extendedprice").alias("vs"))
        .collect()
    }
    for r in _rows(spark, sf_dir, "agg_weighted_median"):
        assert r.weighted_median in domain[r.flag], r


def test_pareto_rank_never_exceeds_part_count(spark, sf_dir):
    for r in _rows(spark, sf_dir, "stat_pareto_share"):
        assert 1 <= r.parts_to_80pct <= r.n_parts, r
        assert 0.0 < r.pareto_frac <= 1.0


def test_business_days_bounded_by_calendar_days(spark, sf_dir):
    for r in _rows(spark, sf_dir, "expr_business_days")[:500]:
        assert 0 <= r.business_days <= r.calendar_days, r
        # at most 5 of any 7 consecutive days are business days
        assert r.business_days <= 5 * (r.calendar_days // 7) + min(
            r.calendar_days % 7, 5
        ) + 5, r


def test_gaps_islands_runs_fit_observed_activity(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    days = {
        r.user_id: r.n
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct(F.to_date("ts")).alias("n"))
        .collect()
    }
    for r in _rows(spark, sf_dir, "series_gaps_islands"):
        assert 1 <= r.longest_run_days <= days[r.user_id], r


@pytest.mark.slow
def test_ivf_exact_recall_and_score_exactness(spark, sf_dir):
    """The exact-int IVF entry keeps its recall floor (probing half the
    lists recovers most of the true top-k) and every
    returned score equals the brute-force score for that vector (the
    re-score stage is exact, only the candidate set is approximate)."""
    brute = {
        r.vec_id: r.score
        for r in _rows(spark, sf_dir, "sim_topk_bruteforce")
    }
    approx = _rows(spark, sf_dir, "sim_ivf_topk")
    assert len(approx) == 10
    assert len({r.vec_id for r in approx} & set(brute)) >= 5
    for r in approx:
        if r.vec_id in brute:
            assert r.score == brute[r.vec_id], r


@pytest.mark.slow
def test_pq_exact_shortlist_and_score_exactness(spark, sf_dir):
    """The exact-int PQ entry returns k rows whose scores equal the
    brute-force cosine for those vectors (only shortlist MEMBERSHIP is
    approximate — isotropic fixtures are PQ's documented worst case, so
    the recall floor is modest)."""
    brute = {
        r.vec_id: r.score
        for r in _rows(spark, sf_dir, "sim_topk_bruteforce")
    }
    approx = _rows(spark, sf_dir, "sim_pq_topk")
    assert len(approx) == 10
    assert len({r.vec_id for r in approx} & set(brute)) >= 3
    for r in approx:
        if r.vec_id in brute:
            assert r.score == brute[r.vec_id], r


def test_reciprocity_is_a_fraction(spark, sf_dir):
    r = _rows(spark, sf_dir, "graph_reciprocity")[0]
    assert 0 <= r.n_reciprocal <= r.n_edges
    assert abs(r.reciprocity - r.n_reciprocal / r.n_edges) < 1e-12


def test_nearest_asof_picks_the_closer_side(spark, sf_dir):
    """For every matched click, |gap to picked purchase| must not exceed
    the gap to ANY purchase of the same user (nearest = global argmin
    because backward/forward are each argmin on their side)."""
    ev = load(spark, sf_dir, "events")
    purchases = {}
    for r in ev.filter("event_type = 'purchase'").select(
        "user_id", "ts"
    ).collect():
        purchases.setdefault(r.user_id, []).append(r.ts)
    rows = _rows(spark, sf_dir, "asof_join_nearest")
    checked = 0
    for r in rows[:300]:
        if r.near_purchase_ts is None or r.user_id not in purchases:
            continue
        got = abs((r.ts - r.near_purchase_ts).total_seconds())
        best = min(
            abs((r.ts - p).total_seconds()) for p in purchases[r.user_id]
        )
        assert got == best, (r, best)
        checked += 1
    assert checked > 50


def test_readability_components_positive(spark, sf_dir):
    for r in _rows(spark, sf_dir, "text_readability_fk")[:200]:
        assert r.n_words > 0 and r.n_sents > 0
        assert r.n_syllables >= r.n_words  # >=1 syllable per word
        assert math.isfinite(r.fk_grade)


def test_benford_probabilities_sum_to_one(spark, sf_dir):
    rows = _rows(spark, sf_dir, "stat_benford_first_digit")
    assert abs(sum(r.observed_p for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 1e-9
    assert all(1 <= r.d1 <= 9 for r in rows)


def test_cusum_day_is_within_series(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").filter("ts IS NOT NULL")
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in ev.groupBy("event_type")
        .agg(
            F.min(F.to_date("ts")).alias("lo"),
            F.max(F.to_date("ts")).alias("hi"),
        )
        .collect()
    }
    for r in _rows(spark, sf_dir, "series_cusum_changepoint"):
        lo, hi = bounds[r.event_type]
        assert lo <= r.changepoint_day <= hi, r
        assert r.max_cusum >= 0.0
