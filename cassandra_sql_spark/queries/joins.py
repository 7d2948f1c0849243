"""Joins — all five reference types plus semi/anti and multi-way
(SURVEY §2.3; reference kv/KvJoinExecutor.java:113-316): ``join_*`` and
``lateral_*``.

The reference builds an in-heap hash table on the left and probes with the
right, single-key equi-joins only. Here the join is declared and Catalyst
picks the physical strategy: broadcast-hash for dim tables (no shuffle of
the fact side), sort-merge with AQE skew splitting otherwise. Semi/anti
joins come from EXISTS/IN predicates exactly as Catalyst rewrites them
(the reference instead re-executes subqueries into literal lists,
SubqueryExecutor.java:35-263 — not scalable; do not replicate).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.operators import skew
from cassandra_sql_spark.queries.base import Q, df_q, dsum, sql_q


def _salted_join_agg(spark, sf):
    """Salted orders x customer join (skew escape hatch, operators/skew.py),
    aggregated per nation — must equal the plain join's result exactly."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    joined = skew.salted_equi_join(
        orders, customer, [("o_custkey", "c_custkey")], salt=8
    )
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


QUERIES: dict[str, Q] = {
    # Salting correctness: the redistributed join hash-matches the plain
    # join (the oracle runs the unsalted SQL).
    "join_salted_skew": df_q(
        _salted_join_agg,
        ("orders", "customer"),
        oracle="""
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        """,
    ),
    "join_inner": sql_q(
        """
        SELECT o_orderkey, o_totalprice, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > 250000
        """,
        ("orders", "customer"),
    ),
    # LEFT OUTER: every customer, NULL-padded where no qualifying order
    # (reference kv/KvJoinExecutor.java:137-157).
    "join_left_outer": sql_q(
        """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 280000
        """,
        ("customer", "orders"),
    ),
    "join_right_outer": sql_q(
        """
        SELECT c_custkey, c_name, o_orderkey
        FROM orders
        RIGHT JOIN customer ON o_custkey = c_custkey AND o_orderstatus = 'P'
        """,
        ("orders", "customer"),
    ),
    "join_full_outer": sql_q(
        """
        SELECT n_nationkey, n_name, s_suppkey, s_name
        FROM nation
        FULL OUTER JOIN supplier
          ON n_nationkey = s_nationkey AND s_acctbal > 5000
        """,
        ("nation", "supplier"),
    ),
    # CROSS JOIN (reference kv/KvJoinExecutor.java:211-263) — 5 x 25 rows.
    "join_cross": sql_q(
        """
        SELECT r_name, n_name
        FROM region CROSS JOIN nation
        """,
        ("region", "nation"),
    ),
    # Self-join (reference kv/JoinTypesTest.java covers it): nation pairs
    # within a region.
    "join_self": sql_q(
        """
        SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        """,
        ("nation",),
    ),
    # Left-deep multi-way pipeline (reference kv/KvJoinExecutor.java:267-316);
    # Catalyst reorders + broadcasts all four dimension sides.
    "join_multiway": sql_q(
        f"""
        SELECT r_name, n_name, COUNT(*) AS n_suppliers,
               {dsum('s_acctbal', 'total_acctbal')}
        FROM region
        JOIN nation ON r_regionkey = n_regionkey
        JOIN supplier ON n_nationkey = s_nationkey
        GROUP BY r_name, n_name
        """,
        ("region", "nation", "supplier"),
    ),
    # Semi join via EXISTS (Catalyst -> LeftSemi, no row duplication).
    "join_semi": sql_q(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000
        )
        """,
        ("customer", "orders"),
    ),
    # Anti join via NOT EXISTS (Catalyst -> LeftAnti).
    "join_anti": sql_q(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 250000
        )
        """,
        ("customer", "orders"),
    ),
    # Join + outer ORDER BY/LIMIT wrapper
    # (reference kv/KvQueryExecutor.java:1459-1535).
    "join_orderby_limit": sql_q(
        """
        SELECT o_orderkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 15
        """,
        ("orders", "customer"),
    ),
    # pg LATERAL join (⬆): top-2 orders per customer via a correlated
    # LATERAL subquery with LIMIT — Catalyst decorrelates it into a
    # ranked window join, not a per-row nested loop; both engines parse
    # the comma-LATERAL spelling verbatim.
    "lateral_topn_per_key": sql_q(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey <= 50
        ORDER BY c.c_custkey, t.o_orderkey
        """,
        ("customer", "orders"),
    ),
}
