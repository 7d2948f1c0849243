"""Independent semantic pins for the round-6 closing batch (entries in
queries/series.py, windows.py, events.py and text.py) beyond the
registry-wide DuckDB equivalence:

- EWMA equals a sequential numpy replica of the truncated
  adjust=True recurrence (weights 0.8^k over the last min(n,20) days);
- the cumulative product telescopes to revenue_t / revenue_1;
- Markov transition probabilities row-normalize to 1 per source state
  and the transition counts total (events - one per active user);
- rolling median equals numpy's median over each trailing 7-row frame;
- TTR is a Python set/len replica per document and always in (0, 1].
"""

from __future__ import annotations

import math
import re

import pytest

from cassandra_sql_spark.io import load
from cassandra_sql_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    def _run(name):
        return REGISTRY[name].fn(spark, sf_dir).collect()

    return _run


def _daily_revenue(spark, sf_dir):
    rows = (
        load(spark, sf_dir, "events")
        .where("event_type = 'purchase' AND ts IS NOT NULL")
        .selectExpr(
            "CAST(ts AS DATE) AS day",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("day")
        .sum("cents")
        .collect()
    )
    daily = sorted((r["day"], r["sum(cents)"] / 100.0) for r in rows)
    return [d for d, _ in daily], [v for _, v in daily]


def test_ewma_matches_sequential_replica(run, spark, sf_dir):
    days, revenue = _daily_revenue(spark, sf_dir)
    got = {r.day: r.ewma for r in run("series_ewma")}
    assert set(got) == set(days)
    for t, day in enumerate(days):
        window = revenue[max(0, t - 19) : t + 1]
        weights = [0.8 ** (len(window) - 1 - i) for i in range(len(window))]
        want = sum(w * x for w, x in zip(weights, window)) / sum(weights)
        assert got[day] == pytest.approx(want, abs=2e-6), day


def test_cumprod_growth_telescopes(run, spark, sf_dir):
    days, revenue = _daily_revenue(spark, sf_dir)
    got = {r.day: r.growth_index for r in run("win_cumprod_growth")}
    # first day has no ratio; every later day telescopes to rev_t/rev_1
    assert set(got) == set(days[1:])
    for t in range(1, len(days)):
        assert got[days[t]] == pytest.approx(
            revenue[t] / revenue[0], rel=1e-9, abs=2e-6
        ), days[t]


def test_markov_rows_normalize_and_count(run, spark, sf_dir):
    rows = run("event_markov_transitions")
    by_src: dict[str, float] = {}
    total = 0
    for r in rows:
        by_src[r.src] = by_src.get(r.src, 0.0) + r.p
        total += r.n
    for src, psum in by_src.items():
        # each p is quantized half-up to 6dp, so the row sum is within
        # (#dst states)/2 * 1e-6 of 1
        assert psum == pytest.approx(1.0, abs=5e-6), src
    ev = (
        load(spark, sf_dir, "events")
        .where("ts IS NOT NULL")
        .groupBy("user_id")
        .count()
        .collect()
    )
    # one LEAD per user is NULL: transitions == events - active users
    assert total == sum(r["count"] for r in ev) - len(ev)


def test_rolling_median_matches_numpy(run, spark, sf_dir):
    import numpy as np

    seq = (
        load(spark, sf_dir, "events")
        .where("ts IS NOT NULL AND value IS NOT NULL AND user_id < 200")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in sorted(seq, key=lambda r: (r.user_id, r.ts, r.event_id)):
        per_user.setdefault(r.user_id, []).append((r.event_id, r.value))
    want = {}
    for uid, items in per_user.items():
        vals = [v for _, v in items]
        for i, (eid, _) in enumerate(items):
            frame = vals[max(0, i - 6) : i + 1]
            want[(uid, eid)] = float(np.median(frame))
    got = run("win_rolling_median")
    assert len(got) == min(500, len(want))
    for r in got:
        assert r.rolling_median == pytest.approx(
            want[(r.user_id, r.event_id)], abs=2e-6
        ), (r.user_id, r.event_id)


def test_ttr_matches_python_replica(run, spark, sf_dir):
    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        if r.text is not None and r.text.strip()
    }
    got = {r.doc_id: (r.n_tokens, r.ttr) for r in run("text_ttr_diversity")}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        toks = re.split(r"\s+", text.strip())
        n, ttr = got[doc_id]
        assert n == len(toks), doc_id
        assert 0.0 < ttr <= 1.0, doc_id
        want = math.floor(len(set(toks)) / len(toks) * 1e6 + 0.5) / 1e6
        assert ttr == pytest.approx(want, abs=1e-9), doc_id


def test_rfm_scores_are_balanced_quintiles(run, spark, sf_dir):
    rows = run("event_rfm_segmentation")
    buyers = (
        load(spark, sf_dir, "events")
        .where("event_type = 'purchase' AND ts IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(rows) == buyers
    for col in ("r_score", "f_score", "m_score"):
        tiles: dict[int, int] = {}
        for r in rows:
            v = getattr(r, col)
            assert 1 <= v <= 5, (col, v)
            tiles[v] = tiles.get(v, 0) + 1
        # NTILE balance: tile sizes differ by at most 1
        assert max(tiles.values()) - min(tiles.values()) <= 1, col
    # the most recent buyer(s) carry the best recency score
    best = min(rows, key=lambda r: (r.recency_days, r.user_id))
    assert best.r_score == 1


def test_interarrival_gap_counts(run, spark, sf_dir):
    rows = run("event_interarrival_stats")
    per_type = (
        load(spark, sf_dir, "events")
        .where("ts IS NOT NULL")
        .groupBy("event_type")
        .agg({"user_id": "count"})
        .collect()
    )
    users_per_type = {
        r.event_type: r.n
        for r in load(spark, sf_dir, "events")
        .where("ts IS NOT NULL")
        .selectExpr("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {r.event_type: r for r in rows}
    for r in per_type:
        et = r.event_type
        # one NULL LAG per (user, type) series
        assert got[et].n_gaps == r["count(user_id)"] - users_per_type[et], et
        assert 0.0 <= got[et].p50_s <= got[et].p90_s, et


def test_degree_distribution_accounts_every_user(run, spark, sf_dir):
    rows = run("graph_degree_distribution")
    n_users = sum(r.n_users for r in rows)
    truth = (
        load(spark, sf_dir, "events")
        .where("ts IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert n_users == truth
    for r in rows:
        assert 1 <= r.min_types <= r.max_types, r
