"""Subqueries (SURVEY §2.7; reference SubqueryExecutor.java,
CorrelatedSubqueryExecutor.java, SelectListSubqueryExecutor.java): ``subq_*`` and ``recursive_cte``.

The reference executes subqueries eagerly and splices literal results back
into the outer SQL string (IN-lists, TRUE/FALSE for EXISTS, per-outer-row
nested loops for correlation) — O(outer x inner) and unscalable. Here every
form is declared and Catalyst decorrelates to joins: IN -> left-semi,
NOT IN -> null-aware anti, EXISTS -> semi, correlated scalar -> aggregated
left join. CTEs are included although the reference lacks them
(SURVEY §2.7 "absent despite README claim").
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import Q, davg, dsum, pg_q, sql_q


QUERIES: dict[str, Q] = {
    "subq_in": sql_q(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_acctbal > 9500
        ) AND o_totalprice > 200000
        """,
        ("orders", "customer"),
    ),
    # NOT IN over a non-nullable key (null-aware anti join; with nullable
    # subquery columns NOT IN is a well-known footgun in both engines).
    "subq_not_in": sql_q(
        """
        SELECT n_nationkey, n_name
        FROM nation
        WHERE n_nationkey NOT IN (
          SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
        )
        """,
        ("nation", "supplier"),
    ),
    # Uncorrelated scalar subquery in WHERE
    # (reference SubqueryExecutor.java:162,239).
    "subq_scalar_where": sql_q(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.9 * (
          SELECT AVG(o_totalprice) FROM orders
        )
        """,
        ("orders",),
    ),
    # Correlated scalar subquery in the SELECT list (reference
    # SelectListSubqueryExecutor.java re-executes per outer row; Catalyst
    # rewrites to one aggregated left join).
    "subq_scalar_select": sql_q(
        """
        SELECT n_nationkey, n_name,
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey)
                 AS n_suppliers
        FROM nation
        """,
        ("nation", "supplier"),
    ),
    # Correlated comparison subquery (reference
    # CorrelatedSubqueryExecutor.java:13-243): customers whose balance beats
    # their nation's average.
    "subq_correlated": sql_q(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c_acctbal > (
          SELECT AVG(c2.c_acctbal) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey
        ) AND c_acctbal > 9900
        """,
        ("customer",),
    ),
    # Derived table with WHERE/agg/ORDER BY over it
    # (reference kv/KvQueryExecutor.java:5577-6196).
    "subq_derived": sql_q(
        f"""
        SELECT seg, n, avg_bal
        FROM (
          SELECT c_mktsegment AS seg, COUNT(*) AS n,
                 {davg('c_acctbal', 'avg_bal')}
          FROM customer
          GROUP BY c_mktsegment
        ) t
        WHERE n > 250
        ORDER BY avg_bal DESC
        """,
        ("customer",),
    ),
    # CTE — absent in the reference, free in Spark (SURVEY §2.7).
    "subq_cte": sql_q(
        f"""
        WITH nation_rev AS (
          SELECT c_nationkey AS nk,
                 {dsum('o_totalprice', 'rev')}
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_nationkey
        )
        SELECT n_name, rev
        FROM nation_rev JOIN nation ON nk = n_nationkey
        WHERE rev > 100000
        ORDER BY rev DESC, n_name
        """,
        ("orders", "customer", "nation"),
    ),
    # EXISTS inside OR with another predicate (forces ExistenceJoin, the
    # non-trivial decorrelation case).
    "subq_exists_or": sql_q(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_acctbal > 9950 OR EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 420000
        )
        """,
        ("customer", "orders"),
    ),
    # Quantified comparison subqueries: Spark side runs THROUGH the
    # preprocessor (`> ALL` -> scalar MAX subquery, `< ANY` -> scalar
    # MAX subquery, `= ANY` -> IN); DuckDB executes the native
    # quantified spelling. Fixture subqueries are non-empty and
    # NULL-free, where the rewrite is exact (divergence on empty/NULL
    # sets documented at `_rewrite_quantified`).
    "subq_quantified": pg_q(
        """
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > ALL (
                SELECT s_acctbal FROM supplier WHERE s_nationkey = 3
              )
          AND c_nationkey = ANY (
                SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
              )
        """,
        ("customer", "supplier", "nation"),
        oracle="""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > ALL (
                SELECT s_acctbal FROM supplier WHERE s_nationkey = 3
              )
          AND c_nationkey = ANY (
                SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
              )
        """,
    ),
    # Recursive CTE (absent in the reference; Spark 4 + DuckDB both run it).
    "recursive_cte": sql_q(
        """
        WITH RECURSIVE seq(n) AS (
          SELECT 1
          UNION ALL
          SELECT n + 1 FROM seq WHERE n < 10
        )
        SELECT n, n * n AS sq FROM seq
        """,
        (),
    ),
}
