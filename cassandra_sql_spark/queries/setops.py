"""Set operations (SURVEY §2.6; reference kv/UnionExecutor.java): ``setop_*``.

The reference concatenates per-SELECT results and dedups UNION through an
in-heap LinkedHashSet of canonical row strings (UnionExecutor.java:130-135,
213-246). Spark's union is a zero-shuffle concatenation; UNION's dedup is a
hash aggregate on all columns. INTERSECT / EXCEPT are upgrades the reference
lacks (SURVEY §2.6).
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import Q, sql_q


QUERIES: dict[str, Q] = {
    "setop_union_all": sql_q(
        """
        SELECT c_custkey AS key, c_name AS name, 'customer' AS src
        FROM customer WHERE c_nationkey = 7
        UNION ALL
        SELECT s_suppkey AS key, s_name AS name, 'supplier' AS src
        FROM supplier WHERE s_nationkey = 7
        """,
        ("customer", "supplier"),
    ),
    # UNION dedup (reference UnionExecutor.java:130-135): overlapping
    # nation-key sets collapse.
    "setop_union_distinct": sql_q(
        """
        SELECT c_nationkey AS nk FROM customer
        UNION
        SELECT s_nationkey AS nk FROM supplier
        """,
        ("customer", "supplier"),
    ),
    # UNION + outer ORDER BY/LIMIT applied after concatenation
    # (reference kv/UnionExecutor.java:36-149).
    "setop_union_orderby": sql_q(
        """
        SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        WHERE o_orderstatus = 'P'
        UNION ALL
        SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        WHERE o_totalprice > 300000
        ORDER BY v DESC, k
        LIMIT 20
        """,
        ("orders",),
    ),
    "setop_intersect": sql_q(
        """
        SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
        INTERSECT
        SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 9000
        """,
        ("customer", "supplier"),
    ),
    "setop_except": sql_q(
        """
        SELECT n_nationkey AS nk FROM nation
        EXCEPT
        SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < -900
        """,
        ("nation", "customer"),
    ),
    # INTERSECT ALL / EXCEPT ALL (bag semantics — upgrade over reference).
    "setop_intersect_all": sql_q(
        """
        SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
        INTERSECT ALL
        SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'O'
        """,
        ("lineitem",),
    ),
    "setop_except_all": sql_q(
        """
        SELECT l_linenumber AS k FROM lineitem WHERE l_orderkey < 500
        EXCEPT ALL
        SELECT l_linenumber AS k FROM lineitem
        WHERE l_orderkey < 500 AND l_returnflag = 'R'
        """,
        ("lineitem",),
    ),
}
