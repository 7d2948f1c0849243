"""The correctness driver grades only the FIRST 50 registry entries.

The window ROTATES per round so every oracle-checked entry eventually gets
a hard-signal driver row (r1-r4 graded 135 distinct entries; the round-5
window grades the 31-entry never-sampled tail, closing it). These tests
pin the rotation's invariants:

- the window is exactly the first 50 registry entries,
- every windowed entry carries a DuckDB oracle (no slot wasted on a
  rows-only check),
- every entry whose output representation changed this round is in the
  window (regression canaries),
- the round-4 ungraded tail is fully inside the window,
- family coverage holds over the UNION of past driver rows and the current
  window — rotating the window must not leave a family with no hard signal
  anywhere,
- the hash-boundary contract (no ARRAY/MAP Spark outputs, no
  HUGEINT/DECIMAL oracle types) holds for every oracle-checked entry.
"""

from __future__ import annotations

import importlib
import json
import re
from pathlib import Path

import pytest

from cassandra_sql_spark.queries import (
    FAMILIES,
    FAMILY,
    NEXT_WINDOW,
    PRIORITY,
    REGISTRY,
)

_REPO = Path(__file__).resolve().parent.parent

# Entries whose output representation OR physical plan changed this
# round — all must be in the window so the changed entry gets re-graded.
# The r11 verdict widened this rule from representation-only to
# plan-changing rewrites: dsir_importance's sharded_rank switch shipped
# in r11 with only pre-switch driver rows (identity was exceptAll-pinned,
# but the rotation's own discipline — regrade what changed — missed it).
# Round 13 (the r12 verdict's top item — every r12/r13 plan-changing
# rewrite gets a post-rewrite driver row): the q18 one-pass collapse,
# the merged ANN/k-means trainers + r13 lambda-bound assignment argmin,
# the CC convergence fold, and the r13 ngram-cascade index
# materialization (every entry whose pair source is the capped cascade).
_CANARIES: set[str] = {
    "q18_large_volume_customer",
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "emb_kmeans_clusters",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_clusters_bigstar",
    "dedup_survivor_selection",
    "dedup_cross_source_audit",
    "corpus_curation_pipeline",
}

# One-or-more graded representatives required per SURVEY §2 / pipeline
# family, checked against union(past driver rows, current window).
_FAMILIES: dict[str, set[str]] = {
    "tpch": {"q1_pricing_summary", "q5_local_supplier_volume"},
    "2.1/2.2 scan+predicates": {
        "scan_filter_project", "pred_like", "pred_regex",
        "pred_null_safe_eq",
    },
    "2.3 joins": {"join_full_outer", "join_salted_skew"},
    "2.4 aggregation": {
        "agg_rollup", "agg_cube", "agg_grouping_sets", "agg_percentiles",
        "agg_approx_distinct_bound", "agg_over_join", "agg_manual_pivot",
    },
    "2.5 windows": {
        "win_ranking", "win_running_agg", "win_sliding_frame",
        "win_distribution", "win_lag_lead", "win_first_last",
        "win_range_frame", "win_topk_per_group", "win_nth_value",
    },
    "2.6 set ops": {
        "setop_union_all", "setop_intersect_all", "setop_except_all",
        "select_distinct", "setop_union_distinct", "setop_intersect",
        "setop_except",
    },
    "2.7 subqueries": {
        "subq_correlated", "subq_scalar_select", "subq_cte",
        "recursive_cte", "subq_in", "subq_not_in", "subq_scalar_where",
        "subq_derived", "subq_exists_or",
    },
    "2.8 expressions": {
        "expr_case", "expr_arithmetic", "expr_math_transcendental",
        "expr_datetime", "expr_cast", "expr_concat", "expr_math",
    },
    "2.8 json/arrays": {
        "json_filter_agg", "array_ops", "json_extract_scalar",
        "explode_tokens", "array_agg_per_group",
    },
    "timeseries rollup": {"hypertable_rollup"},
    "pipeline dedup": {
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_embedding_lsh", "dedup_clusters", "dedup_embedding_cosine",
    },
    "pipeline decontam": {"decontam_ngram_overlap"},
    "pipeline similarity": {"sim_topk_bruteforce"},
    "pipeline embeddings": {
        "emb_random_projection", "emb_quantize_int8", "emb_label_centroids",
    },
    "pipeline text": {
        "text_stats", "text_repetition_filter", "text_bpe_tokens",
        "text_vocab_topk", "text_bm25", "text_chunk_sliding",
        "text_pii_redact",
    },
    "pipeline sampling": {
        "sample_stratified", "sample_md5_split", "pack_token_budget",
    },
    "pipeline multimodal": {
        "multimodal_resize", "multimodal_binary_meta",
        "multimodal_frame_sample",
    },
    "temporal": {"asof_join_purchases", "range_join_events"},
    "streaming": {
        "stream_window_agg", "stream_stream_join", "stream_static_join",
        "stream_dedup", "event_sessionize_batch",
    },
}


def _graded_union(through: int = 99) -> set[str]:
    names: set[str] = set()
    for f in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        if int(f.stem.split("_r")[1]) <= through:
            names |= set(json.loads(f.read_text()))
    return names


def test_priority_window_is_first_50():
    assert len(PRIORITY) == 50
    assert list(REGISTRY)[:50] == list(PRIORITY)


def test_priority_names_unique_and_registered():
    assert len(set(PRIORITY)) == len(PRIORITY)
    for name in PRIORITY:
        assert name in REGISTRY, name


def test_canaries_in_window():
    missing = _CANARIES - set(PRIORITY)
    assert not missing, f"representation-changed canaries not graded: {missing}"


def test_window_closes_never_graded_tail():
    """The r13 window contains EVERY oracle-checked entry with no driver
    row through r12 — the 2 entries staged in the r12 NEXT_WINDOW; the
    remaining slots regrade rewrite canaries and the oldest driver
    rows."""
    graded = _graded_union(through=12)
    oracle_checked = {n for n in REGISTRY if REGISTRY[n].oracle is not None}
    never_graded = oracle_checked - graded
    # entries ADDED during round 13 stage in NEXT_WINDOW for the r14 window;
    # everything never-graded at rotation time must be in THIS window
    missing = never_graded - set(PRIORITY) - set(NEXT_WINDOW)
    assert not missing, f"never-graded entries left out of the window: {missing}"


def test_window_fillers_are_oldest_regrades():
    """The non-tail slots go to the entries whose latest driver grading
    is oldest — the 18-entry REMAINDER of the r5 cohort (closing it) and
    the alphabetical first 19 of the r6 cohort — plus the twelve r12/r13
    rewrite canaries: regression re-coverage, not padding."""
    graded12 = _graded_union(through=12)
    regrades = set(PRIORITY) & graded12
    r5_cohort_rest = {
        "q9_product_profit", "recursive_cte", "sample_global_shuffle",
        "sample_source_quota", "sample_temperature", "scan_filter_project",
        "setop_union_all", "setop_union_orderby",
        "sort_explicit_null_order", "subq_correlated",
        "text_gopher_filters", "text_length_histogram", "text_novelty",
        "text_quality_classifier", "values_table", "win_named_window",
        "win_ranking", "win_time_range_frame",
    }
    r6_cohort_head = {
        "agg_bitwise", "agg_bool_countif", "agg_count_distinct",
        "agg_groupby_multi", "agg_having", "agg_listagg",
        "agg_stats_regression", "agg_within_group", "array_agg_per_group",
        "emb_quantize_int8", "event_anomaly_batch", "expr_bitwise",
        "expr_try_cast", "join_anti", "join_inner", "join_left_outer",
        "join_multiway", "join_right_outer", "join_semi",
    }
    # sim_ivfpq_topk and jpeg_restart_interval_decode_real are the
    # never-graded tail, not regrades
    canary_regrades = _CANARIES - {"sim_ivfpq_topk"}
    assert regrades == r5_cohort_rest | r6_cohort_head | canary_regrades


def test_ungraded_tail_fits_one_window():
    """Structural cap on grading-coverage erosion (r6 verdict task #2):
    every oracle-checked entry with no driver row must be in the CURRENT
    window or in NEXT_WINDOW, and NEXT_WINDOW must fit one 50-slot
    rotation. New oracle-checked entries may land only as fast as the
    window rotates — otherwise this pin fails and the round must grade
    before it grows."""
    graded = _graded_union()
    oracle_checked = {n for n in REGISTRY if REGISTRY[n].oracle is not None}
    never_graded = oracle_checked - graded
    stray = never_graded - set(PRIORITY) - set(NEXT_WINDOW)
    assert not stray, f"never-graded entries not staged anywhere: {sorted(stray)}"
    assert len(NEXT_WINDOW) <= 50, (
        f"NEXT_WINDOW ({len(NEXT_WINDOW)}) exceeds one grading window; "
        "stop adding oracle-checked entries until the window rotates"
    )


def test_union_covers_every_family():
    signal = _graded_union() | set(PRIORITY)
    uncovered = [
        fam for fam, reps in _FAMILIES.items() if not (signal & reps)
    ]
    assert not uncovered, f"families with no hard signal anywhere: {uncovered}"


# The single structurally hash-ineligible entry (float-iterative PCA —
# no DuckDB-expressible oracle, COVERAGE.md). Its r11 rows-only window
# slot produced only a "no_oracle" driver record, so it stays OUT of
# every future window (r11 verdict What's-wrong #1).
# emb_quantize_int8_vec left this set in r12: the exploded scalar form
# is fully hash-eligible.
_ROWS_ONLY = {"emb_pca_top_component"}


def test_priority_entries_all_have_oracles():
    """The graded window is wasted on rows-only entries — every slot in
    the first 50 must carry a DuckDB oracle for the full hash compare.
    The one structurally hash-ineligible entry must stay out of the
    window entirely (its driver row can only ever read "no_oracle")."""
    missing = [n for n in PRIORITY if REGISTRY[n].oracle is None]
    assert not missing, f"priority entries without oracles: {missing}"
    for n in _ROWS_ONLY:
        assert REGISTRY[n].oracle is None, f"{n} grew an oracle; un-exempt it"
        assert n not in PRIORITY, f"{n} wastes a window slot on no_oracle"
        assert n not in NEXT_WINDOW, f"{n} staged for a wasted slot"


def test_next_window_closes_oracle_checked_tail():
    """window + NEXT_WINDOW + past rounds == every oracle-checked entry:
    by end of round 5 the graded union is complete."""
    graded = _graded_union()
    oracle_checked = {n for n in REGISTRY if REGISTRY[n].oracle is not None}
    ungraded_after_r5 = (
        oracle_checked - graded - set(PRIORITY) - set(NEXT_WINDOW)
    )
    assert not ungraded_after_r5, sorted(ungraded_after_r5)
    for n in NEXT_WINDOW:
        assert n in REGISTRY and REGISTRY[n].oracle is not None, n


# Entries whose EMPTY result is the point of the test (everything else
# returning 0 rows is a vacuous fixture — a green driver row that
# verifies nothing, the r5 `pred_like_any_all` failure class).
_INTENTIONALLY_EMPTY = {"limit_zero"}


@pytest.mark.slow
def test_no_vacuous_fixtures_at_driver_sf():
    """Every oracle-checked entry must yield >=1 row at sf0.01 — the
    scale the correctness driver grades at. A predicate stack that
    matches nothing (e.g. LIKE patterns outside the fixture's value
    domain) hash-matches trivially and proves nothing. DuckDB-only:
    the Spark side is value-identical by the oracle gate, so auditing
    the oracle audits both."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.01"
    from cassandra_sql_spark.io import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    vacuous = []
    for name, q in REGISTRY.items():
        if q.oracle is None or name in _INTENTIONALLY_EMPTY:
            continue
        nonempty = con.sql(
            f"SELECT EXISTS (SELECT 1 FROM ({q.oracle}) _t)"
        ).fetchone()[0]
        if not nonempty:
            vacuous.append(name)
    con.close()
    assert not vacuous, f"vacuous 0-row fixtures: {vacuous}"


@pytest.mark.slow
def test_oracle_checked_outputs_respect_hash_boundary(spark, duck, sf_dir):
    """Round-4 postmortem contract: the driver's hasher crashes on
    ARRAY/MAP Spark output columns, and DuckDB HUGEINT/DECIMAL oracle
    columns render float64-style on fetch (value-equal, hash-red). Every
    oracle-checked entry must ship scalar columns on both sides. Both
    checks are plan-time only (lazy Spark schema; DuckDB bind) — no query
    executes here."""
    from cassandra_sql_spark.testing import boundary_problems

    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        df = q.fn(spark, sf_dir)
        rel = duck.sql(q.oracle)
        problems = boundary_problems(df.dtypes, rel.columns, rel.types)
        if problems:
            bad[name] = problems
    assert not bad, f"hash-boundary contract violations: {bad}"


def test_coverage_doc_totals_match_registry():
    """The COVERAGE.md headline totals must equal the live registry —
    the r8 round-close prose went stale when an entry landed after the
    bookkeeping commit (r8 verdict, What's wrong #3). The doc states
    them as '**NNN registry queries — MMM oracle-checked**'."""
    import re

    text = (_REPO / "COVERAGE.md").read_text()
    m = re.search(
        r"\*\*(\d+) registry queries —\s*(\d+)\s*oracle-checked\*\*",
        text,
    )
    assert m, "COVERAGE.md headline totals not found"
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert int(m.group(1)) == len(REGISTRY), (
        f"COVERAGE.md says {m.group(1)} registry entries; "
        f"live registry has {len(REGISTRY)}"
    )
    assert int(m.group(2)) == n_oracle, (
        f"COVERAGE.md says {m.group(2)} oracle-checked; live count is "
        f"{n_oracle}"
    )


def test_modules_are_operator_families():
    """Each module under queries/ holds one operator family and is named
    by it: no module is named by the round that added it, every entry's
    recorded family is the module that defines it, and no entry-name
    prefix spans two families."""
    pkg = _REPO / "cassandra_sql_spark" / "queries"
    modules = {p.stem for p in pkg.glob("*.py")} - {"__init__", "base"}
    assert not [m for m in modules if re.search(r"(^|_)r\d", m)]
    assert modules == set(FAMILIES)
    assert set(FAMILY) == set(REGISTRY)
    for family in FAMILIES:
        mod = importlib.import_module(f"cassandra_sql_spark.queries.{family}")
        assert {n for n, f in FAMILY.items() if f == family} == set(mod.QUERIES)
        for name, q in mod.QUERIES.items():
            assert REGISTRY[name] is q
    prefix_families: dict[str, set[str]] = {}
    for name, family in FAMILY.items():
        prefix_families.setdefault(name.split("_")[0], set()).add(family)
    assert {p: f for p, f in prefix_families.items() if len(f) > 1} == {}
