"""The operator-inventory query catalog.

``REGISTRY`` maps query name -> Q(fn, oracle). ``__spark_entry__.py``
exposes it to the correctness gate; ``bench.py`` runs the headline subset.
"""

from __future__ import annotations

import importlib

from cassandra_sql_spark.queries.base import Q

# One module per operator family; a module's name is its entries' family.
FAMILIES: tuple[str, ...] = (
    "tpch",
    "relational",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "subqueries",
    "expressions",
    "statistics",
    "series",
    "events",
    "temporal",
    "orders",
    "graph",
    "text",
    "embeddings",
    "dedup",
    "similarity",
    "sketches",
    "sampling",
    "codecs",
    "streaming",
)
_MODULES = tuple(
    importlib.import_module(f"{__name__}.{f}") for f in FAMILIES
)

# The correctness gate grades only the FIRST 50 registry entries, so
# the window rotates from round to round until every oracle-checked entry
# has a recent graded row: entries never graded come first, then entries
# whose plan changed since their last graded row (rewrite canaries), then
# the entries whose latest graded row is oldest, alphabetically within a
# cohort. NEXT_WINDOW stages the next round's never-graded entries and
# canaries that did not fit. ``tests/test_registry.py`` pins the
# composition and caps NEXT_WINDOW at one window's capacity.
PRIORITY: tuple[str, ...] = (
    "jpeg_restart_interval_decode_real",
    "sim_ivfpq_topk",
    "q18_large_volume_customer",
    "sim_ivf_topk",
    "sim_pq_topk",
    "emb_kmeans_clusters",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_clusters_bigstar",
    "dedup_survivor_selection",
    "dedup_cross_source_audit",
    "corpus_curation_pipeline",
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

NEXT_WINDOW: tuple[str, ...] = (
    "dedup_embedding_lsh",
    "dedup_semantic",
    "sim_topk_bruteforce",
    "sim_lsh_topk",
    "sim_lsh_multiprobe",
    "emb_random_projection",
    "dedup_simhash",
)

_ALL: dict[str, Q] = {}
FAMILY: dict[str, str] = {}  # entry name -> its family (module name)
for _family, _m in zip(FAMILIES, _MODULES):
    for _name, _q in _m.QUERIES.items():
        if _name in _ALL:
            raise ValueError(f"duplicate query name: {_name}")
        _ALL[_name] = _q
        FAMILY[_name] = _family

_missing = [n for n in PRIORITY if n not in _ALL]
if _missing:
    raise ValueError(f"PRIORITY names not registered: {_missing}")

REGISTRY: dict[str, Q] = {n: _ALL[n] for n in PRIORITY}
for _name, _q in _ALL.items():
    if _name not in REGISTRY:
        REGISTRY[_name] = _q
