"""The operator-inventory query catalog.

``REGISTRY`` maps query name -> Q(fn, oracle). ``__spark_entry__.py``
exposes it to the correctness driver; ``bench.py`` runs the headline subset.
"""

from __future__ import annotations

from cassandra_sql_spark.queries import (
    aggregates,
    analytics_r6c,
    behavior,
    expressions,
    joins,
    json_ops,
    modern_sql,
    modern_sql_r6,
    more_sql,
    pipeline_queries,
    pipeline_r6,
    r7_ops,
    r8_ops,
    r8b_ops,
    r9_ops,
    r9b_ops,
    r10_ops,
    r11_ops,
    r12_ops,
    relational,
    selection_queries,
    setops,
    streaming_queries,
    subqueries,
    temporal_queries,
    tpch,
    tpch_extra,
    windows,
)
from cassandra_sql_spark.queries.base import Q

_MODULES = (
    tpch,
    tpch_extra,
    relational,
    joins,
    aggregates,
    windows,
    setops,
    subqueries,
    expressions,
    json_ops,
    modern_sql,
    modern_sql_r6,
    more_sql,
    pipeline_queries,
    selection_queries,
    streaming_queries,
    temporal_queries,
    behavior,
    pipeline_r6,
    analytics_r6c,
    r7_ops,
    r8_ops,
    r8b_ops,
    r9_ops,
    r9b_ops,
    r10_ops,
    r11_ops,
    r12_ops,
)

# The correctness driver grades only the FIRST 50 registry entries. The
# window ROTATES per round so every oracle-checked entry eventually gets a
# hard-signal driver row (r1-r12 graded 366 distinct oracle-checked
# entries, all green at latest grading; see CORRECTNESS_r*.json).
# Round-13 window = the 2 entries staged in the r12 NEXT_WINDOW (never
# driver-graded), the 11 rewrite canaries (entries whose PLAN changed in
# r12 — the q18 one-pass collapse, the merged ANN/k-means training
# loops, the CC convergence fold — or in r13 — the lambda-bound ANN
# assignment, the partition-preserving ngram-cascade index; the r12
# verdict's top item: every plan-changing rewrite gets a post-rewrite
# driver row), the 18-entry REMAINDER of the r5-graded cohort (closing
# it), and the alphabetically-first 19 of the next-oldest (r6-graded)
# cohort; 31 r6 entries remain for r14.
# ``tests/test_registry.py`` pins this composition and caps the
# never-graded tail at one window's capacity.
PRIORITY: tuple[str, ...] = (
    # staged in the r12 NEXT_WINDOW, never driver-graded
    "jpeg_restart_interval_decode_real",  # REAL codec #9: DRI/RSTm
    "sim_ivfpq_topk",  # IVF+PQ composed probe, exact-int routing
    # rewrite canaries — plan changed in r12 (one-pass q18, merged
    # ANN/k-means trainers, CC convergence fold) and/or r13 (lambda-bound
    # assignment argmin, ngram-cascade index materialization); all
    # driver rows predate the rewrite — regrade what changed:
    "q18_large_volume_customer",  # r12: 2 lineitem passes -> 1
    "sim_ivf_topk",        # r12 merged trainer; r13 bound argmin
    "sim_pq_topk",         # r12 merged trainer; r13 bound argmin
    "emb_kmeans_clusters",  # r12 merged trainer; r13 bound argmin
    "dedup_clusters",      # r12 CC fold; r13 cascade index
    "dedup_ngram_jaccard",  # r13 cascade index materialization
    "dedup_containment",   # r13 cascade index materialization
    "dedup_clusters_bigstar",     # r13 cascade index (pair source)
    "dedup_survivor_selection",   # r13 cascade index (pair source)
    "dedup_cross_source_audit",   # r13 cascade index (pair source)
    "corpus_curation_pipeline",   # r13 cascade index (pair source)
    # oldest-graded regrades: the 18-entry REMAINDER of the r5 cohort
    # (its alphabetical first 26 were regraded in r12 — cohort closed)
    "q9_product_profit",
    "recursive_cte",
    "sample_global_shuffle",
    "sample_source_quota",
    "sample_temperature",
    "scan_filter_project",
    "setop_union_all",
    "setop_union_orderby",
    "sort_explicit_null_order",
    "subq_correlated",
    "text_gopher_filters",
    "text_length_histogram",
    "text_novelty",
    "text_quality_classifier",
    "values_table",
    "win_named_window",
    "win_ranking",
    "win_time_range_frame",
    # next-oldest cohort (latest driver row r6; alphabetical first 19
    # of the 50 — the remaining 31 queue for r14)
    "agg_bitwise",
    "agg_bool_countif",
    "agg_count_distinct",
    "agg_groupby_multi",
    "agg_having",
    "agg_listagg",
    "agg_stats_regression",
    "agg_within_group",
    "array_agg_per_group",
    "emb_quantize_int8",
    "event_anomaly_batch",
    "expr_bitwise",
    "expr_try_cast",
    "join_anti",
    "join_inner",
    "join_left_outer",
    "join_multiway",
    "join_right_outer",
    "join_semi",
)

# Oracle-checked entries queued for the ROUND-14 window: entries ADDED
# during round 13 are appended as they land (none — r13 is an
# optimization round), plus rewrite canaries for entries whose
# construction switched to the round-13 single-parse twins
# (_flit_array / band_buckets_sql) and that are NOT in the r13 window:
# the optimized plans differ only in lambda-variable names and the
# struct/named_struct spelling (verified execution-identical +
# exceptAll-pinned), but the widened canary rule says regrade what
# changed. tests/test_registry.py enforces that window + NEXT_WINDOW +
# graded union covers every oracle-checked entry AND that this queue
# never exceeds one window's capacity.
NEXT_WINDOW: tuple[str, ...] = (
    "dedup_embedding_lsh",   # band_buckets_sql single-parse twin
    "dedup_semantic",        # band_buckets_sql single-parse twin
    "sim_topk_bruteforce",   # _flit_array query literal
    "sim_lsh_topk",          # lsh_bucket -> band_buckets_sql
    "sim_lsh_multiprobe",    # lsh_bucket -> band_buckets_sql
    "emb_random_projection",  # random_projection -> _dot_lit_sql
    "dedup_simhash",         # simhash_signature single-parse votes
)

_ALL: dict[str, Q] = {}
for _m in _MODULES:
    for _name, _q in _m.QUERIES.items():
        if _name in _ALL:
            raise ValueError(f"duplicate query name: {_name}")
        _ALL[_name] = _q

_missing = [n for n in PRIORITY if n not in _ALL]
if _missing:
    raise ValueError(f"PRIORITY names not registered: {_missing}")

REGISTRY: dict[str, Q] = {n: _ALL[n] for n in PRIORITY}
for _name, _q in _ALL.items():
    if _name not in REGISTRY:
        REGISTRY[_name] = _q
