"""Scans, projections, predicates, sorts, limits (SURVEY §2.1, §2.2, §2.6):
``scan_*``, ``pred_*``, ``sort_*``, ``limit_*``, ``select_*``,
``values_*``, ``fetch_*``, ``literal_*``, ``point_*`` and ``skyline_*``.

Reference semantics: row-at-a-time WHERE over a full scan (reference
kv/KvQueryExecutor.java:1004-1136), predicate set =,!=,<,<=,>,>= / LIKE /
IN / BETWEEN / IS NULL / AND / OR / NOT (kv/CalciteSqlParser.java:992-1145),
ORDER BY + LIMIT/OFFSET (kv/KvQueryExecutor.java:1101-1119, 2771-2814).
We do NOT replicate the reference's silent 1000-row default limit or the
100k ORDER BY scan cap (kv/KvQueryExecutor.java:1010-1015) — documented
wrong-results hazards.

Scale notes: these compile to a single parquet scan stage; filters and
column pruning reach the scan (PushedFilters/ReadSchema in .explain), and
ORDER BY+LIMIT becomes TakeOrderedAndProject (no full sort shuffle).
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import Q, pg_q, sql_q


# -- 2D Pareto skyline --------------------------------------------------------
# The SKYLINE operator (Borzsony/Kossmann/Stocker, ICDE'01) Spark has no
# native form of: parts not dominated on (minimize p_retailprice,
# maximize p_size). Computed scale-safe through the DOMAIN-BOUNDED size
# reduction: per-size min price (one shuffle), a strict-suffix MIN
# window over the <= 50-row size domain, then a broadcast join back to
# the scan. A part survives iff it matches its size's min price AND no
# strictly-larger size offers a price <= its own. No global sort, no
# pairwise self-join (the naive skyline is O(n^2)).
_SKYLINE_SQL = """
WITH pm AS (
  SELECT p_size AS s, MIN(p_retailprice) AS m
  FROM part GROUP BY p_size
),
sfx AS (
  SELECT s, m,
         MIN(m) OVER (ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS mstrict
  FROM pm
)
SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS p_size, p.p_retailprice
FROM part p JOIN sfx ON p.p_size = sfx.s
WHERE p.p_retailprice = sfx.m
  AND (sfx.mstrict IS NULL OR sfx.mstrict > p.p_retailprice)
ORDER BY p_size, p_partkey
"""

QUERIES: dict[str, Q] = {
    # Full scan + filter + projection; filter and pruning push to parquet.
    "scan_filter_project": sql_q(
        """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity > 45 AND l_returnflag = 'A'
        """,
        ("lineitem",),
    ),
    # PK-equality point lookup (reference kv/KvQueryExecutor.java:959-999);
    # on parquet this is scan + data-skipping, same declarative plan.
    "point_lookup": sql_q(
        "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = 42",
        ("customer",),
    ),
    "pred_comparisons": sql_q(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice >= 100000 AND o_totalprice < 150000
          AND o_orderstatus != 'P' AND o_custkey <= 1000
        """,
        ("orders",),
    ),
    "pred_between": sql_q(
        """
        SELECT l_orderkey, l_linenumber, l_discount
        FROM lineitem
        WHERE l_discount BETWEEN 0.05 AND 0.07
          AND l_linenumber NOT BETWEEN 3 AND 5
        """,
        ("lineitem",),
    ),
    "pred_in": sql_q(
        """
        SELECT o_orderkey, o_orderpriority
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_orderstatus NOT IN ('P')
        """,
        ("orders",),
    ),
    "pred_like": sql_q(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name LIKE '%ol%' AND p_type NOT LIKE 'PROMO%'
          AND p_brand LIKE 'Brand#_3'
        """,
        ("part",),
    ),
    "pred_null": sql_q(
        """
        SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') AS st
        FROM orders
        WHERE NULLIF(o_orderstatus, 'O') IS NULL
          AND o_totalprice IS NOT NULL
          AND o_orderkey < 3000
        """,
        ("orders",),
    ),
    "pred_or_not": sql_q(
        """
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
          AND NOT (l_quantity > 10)
        """,
        ("lineitem",),
    ),
    # Deterministic total order (unique key last) -> stable LIMIT/OFFSET.
    "sort_limit_offset": sql_q(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25 OFFSET 10
        """,
        ("orders",),
    ),
    "sort_multicol": sql_q(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer
        ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey
        LIMIT 50
        """,
        ("customer",),
    ),
    # LIMIT 0 is valid and returns an empty, schema-stable result
    # (reference kv/KvQueryExecutor.java:1101-1119).
    "limit_zero": sql_q(
        "SELECT r_regionkey, r_name FROM region LIMIT 0",
        ("region",),
    ),
    # SELECT without FROM (reference kv/KvQueryExecutor.java:830-958,
    # LiteralHandler.java).
    "literal_select": sql_q(
        """
        SELECT 1 AS one, 'x' AS s, CAST(2.5 AS DOUBLE) AS d,
               TRUE AS b, CAST(NULL AS INT) AS n
        """,
        (),
    ),
    # LIKE ANY / NOT LIKE ALL multi-pattern predicates (Spark-native
    # spelling; DuckDB has no LIKE ANY over a literal list, so the
    # oracle expands to the equivalent OR / AND-of-negations — which is
    # exactly what Catalyst rewrites the predicate into).
    # Patterns drawn from the fixture's actual domain (p_type in
    # ECONOMY/STANDARD/..., p_name 'red bolt'-style) so every predicate
    # arm both matches and prunes rows — tests/test_registry.py audits
    # the whole registry against 0-row fixtures.
    "pred_like_any_all": sql_q(
        """
        SELECT p_partkey, p_type
        FROM part
        WHERE p_type LIKE ANY ('ECO%', 'STA%')
          AND p_name NOT LIKE ALL ('%red%', '%blue%')
        """,
        ("part",),
        oracle="""
        SELECT p_partkey, p_type
        FROM part
        WHERE (p_type LIKE 'ECO%' OR p_type LIKE 'STA%')
          AND (p_name NOT LIKE '%red%' AND p_name NOT LIKE '%blue%')
        """,
    ),
    # SELECT * minus named columns — dialect split: Spark spells it
    # `* EXCEPT (...)`, DuckDB `* EXCLUDE (...)`.
    "select_star_except": sql_q(
        """
        SELECT * EXCEPT (o_orderdate, o_orderpriority)
        FROM orders
        WHERE o_orderkey < 500
        """,
        ("orders",),
        oracle="""
        SELECT * EXCLUDE (o_orderdate, o_orderpriority)
        FROM orders
        WHERE o_orderkey < 500
        """,
    ),
    # FETCH FIRST n ROWS WITH TIES (pg / SQL standard; Spark has no
    # WITH TIES): the preprocessor rewrites to a RANK() <= n filter
    # under the same ordering, so boundary ties survive. Ordering on
    # l_quantity (50 distinct values) makes the tie semantics the whole
    # answer: the first 10 ranked rows share quantity 1, so every
    # quantity-1 row comes back, not 10 of them. Plan note: rank-limit
    # compiles to a WindowGroupLimit partial below the exchange — the
    # same top-n pushdown QUALIFY gets.
    "fetch_with_ties": pg_q(
        """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        ORDER BY l_quantity
        FETCH FIRST 10 ROWS WITH TIES
        """,
        ("lineitem",),
        oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 RANK() OVER (ORDER BY l_quantity) AS rk
          FROM lineitem
        ) WHERE rk <= 10
        """,
    ),
    # Regex predicate (the engine facade also accepts pg's `~`).
    "pred_regex": sql_q(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name RLIKE '^(red|blue|hot) [a-z]+$' AND p_partkey < 1500
        """,
        ("part",),
        oracle="""
        SELECT p_partkey, p_name
        FROM part
        WHERE regexp_matches(p_name, '^(red|blue|hot) [a-z]+$')
          AND p_partkey < 1500
        """,
    ),
    "select_distinct": sql_q(
        """
        SELECT DISTINCT c_nationkey, c_mktsegment
        FROM customer WHERE c_acctbal > 9000
        """,
        ("customer",),
    ),
    # Null-safe equality (IS NOT DISTINCT FROM — both dialects).
    "pred_null_safe_eq": sql_q(
        """
        SELECT o_orderkey
        FROM orders
        WHERE NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL
        """,
        ("orders",),
    ),
    # VALUES table source (reference LiteralSelectTest / UNION literal).
    "values_table": sql_q(
        """
        SELECT t.k, t.v * 2 AS v2
        FROM (VALUES (1, 10), (2, 20), (3, 30)) AS t(k, v)
        WHERE t.k >= 2
        """,
        (),
    ),
    # Explicit NULLS FIRST/LAST with LIMIT: engine DEFAULTS diverge
    # (Spark: ASC nulls first / DESC nulls last; DuckDB: the reverse), so
    # any LIMIT over a nullable sort key is only well-defined with the
    # ordering spelled out — this entry pins the explicit form that users
    # must write, exercised with real NULLs in the adversarial net.
    "sort_explicit_null_order": sql_q(
        """
        SELECT c_custkey, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC NULLS LAST, c_custkey
        LIMIT 50
        """,
        ("customer",),
    ),
    # IS DISTINCT FROM — the ANSI null-safe inequality (companion to the
    # <=> entry pred_null_safe_eq): change detection over a sequence
    # where the tracked flag is often NULL, so plain != would silently
    # drop every NULL-adjacent transition.
    "pred_is_distinct_from": sql_q(
        """
        WITH l AS (
          SELECT user_id,
                 CASE WHEN value >= 100 THEN event_type END AS flag,
                 LAG(CASE WHEN value >= 100 THEN event_type END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_flag
          FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN flag IS DISTINCT FROM prev_flag
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM l GROUP BY user_id ORDER BY user_id
        """,
        ("events",),
    ),
    "skyline_pareto_2d": sql_q(_SKYLINE_SQL, ("part",)),
}
