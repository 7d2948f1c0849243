"""Window functions (SURVEY §2.5; reference window/WindowFunctionExecutor.java):
``win_*`` and ``qualify_*``.

The reference partitions rows in heap, sorts each partition, then applies the
function with a hard-coded default frame (unbounded preceding -> current row,
WindowFrame.java:42-49). Spark's WindowExec shuffles once on the partition
key and sorts within partitions — at scale the partition key choice is the
whole game (low-skew keys; no ORDER BY over an un-partitioned window, which
would serialize into a single task).

Determinism: every ORDER BY inside OVER that feeds ROW_NUMBER / LAG /
running ROWS frames includes a unique tiebreaker; running double sums go
through DECIMAL so prefix sums are exact. NTILE / PERCENT_RANK / CUME_DIST /
NTH_VALUE are upgrades the reference lacks.
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import (
    DAILY_PURCHASE_REVENUE,
    Q,
    pg_q,
    sql_q,
)


QUERIES: dict[str, Q] = {
    # ROW_NUMBER / RANK / DENSE_RANK (reference
    # WindowFunctionExecutor.java:167,177,210). p_size ties exercise
    # rank-vs-dense-rank gaps; p_partkey breaks ties for row_number.
    "win_ranking": sql_q(
        """
        SELECT p_partkey, p_brand, p_size,
               ROW_NUMBER() OVER
                 (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey) AS rn,
               RANK() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS rnk,
               DENSE_RANK() OVER
                 (PARTITION BY p_brand ORDER BY p_size DESC) AS drnk
        FROM part
        """,
        ("part",),
    ),
    # Running aggregates with the reference's default frame pinned
    # explicitly (ROWS UNBOUNDED PRECEDING -> CURRENT ROW;
    # WindowFunctionExecutor.java:241-333). DECIMAL keeps prefix sums exact.
    "win_running_agg": sql_q(
        """
        SELECT c_custkey, c_nationkey,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) OVER (
                 PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100 AS running_bal,
               COUNT(*) OVER (
                 PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running_cnt,
               MIN(c_acctbal) OVER (
                 PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running_min,
               MAX(c_acctbal) OVER (
                 PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running_max
        FROM customer
        """,
        ("customer",),
    ),
    # LAG / LEAD with offset + default (reference
    # WindowFunctionExecutor.java:339,363).
    "win_lag_lead": sql_q(
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               LAG(o_totalprice) OVER w AS prev_price,
               LEAD(o_totalprice) OVER w AS next_price,
               LAG(o_totalprice, 2, -1.0) OVER w AS prev2_price
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        ("orders",),
    ),
    # FIRST_VALUE / LAST_VALUE; with the running frame LAST_VALUE is the
    # current row — the reference's (surprising) default semantics
    # (WindowFunctionExecutor.java:387,403-412) — pinned here explicitly,
    # plus the full-frame variant a user actually wants.
    "win_first_last": sql_q(
        """
        SELECT s_suppkey, s_nationkey, s_acctbal,
               FIRST_VALUE(s_acctbal) OVER (
                 PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS top_bal,
               LAST_VALUE(s_acctbal) OVER (
                 PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cur_bal,
               LAST_VALUE(s_acctbal) OVER (
                 PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS bottom_bal
        FROM supplier
        """,
        ("supplier",),
    ),
    # Sliding ROWS frame (parsed-but-ignored in the reference,
    # WindowFrame.java:10-49 — implemented for real here): 3-row moving avg.
    "win_sliding_frame": sql_q(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS qty_3row,
               COUNT(*) OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS cnt_3row
        FROM lineitem
        WHERE l_orderkey < 2000
        """,
        ("lineitem",),
    ),
    # RANGE frame with ties: all peers of the current ORDER BY value are in
    # frame, so the result is deterministic despite ties.
    "win_range_frame": sql_q(
        """
        SELECT p_partkey, p_brand, p_size,
               CAST(SUM(CAST(p_size AS BIGINT)) OVER (
                 PARTITION BY p_brand ORDER BY p_size
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_size
        FROM part
        """,
        ("part",),
    ),
    # NTILE / PERCENT_RANK / CUME_DIST / NTH_VALUE — beyond the reference
    # (SURVEY §2.5 "NOT implemented").
    "win_distribution": sql_q(
        """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               NTH_VALUE(c_acctbal, 2) OVER (
                 PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS second_bal
        FROM customer
        WINDOW w AS
          (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        """,
        ("customer",),
    ),
    # Window over a join + filter on the windowed value via derived table
    # (top-2-per-group pattern; reference wires windows at
    # kv/KvQueryExecutor.java:2815-2832).
    "win_topk_per_group": sql_q(
        """
        SELECT n_name, s_name, s_acctbal
        FROM (
          SELECT n_name, s_name, s_acctbal,
                 ROW_NUMBER() OVER (
                   PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey
                 ) AS rn
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
        ) t
        WHERE rn <= 2
        """,
        ("supplier", "nation"),
    ),
    # NTH_VALUE over a full frame (⬆ — absent from the reference's window
    # function set, WindowFunctionExecutor.java): 2nd-highest balance per
    # nation alongside each row.
    "win_nth_value": sql_q(
        """
        SELECT s_suppkey, s_nationkey, s_acctbal,
               NTH_VALUE(s_acctbal, 2) OVER (
                 PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS second_bal
        FROM supplier
        """,
        ("supplier",),
    ),
    # Time-interval RANGE frame: events in the trailing hour per user —
    # the production sliding-window shape (rate limiting, rolling usage,
    # anomaly baselines). RANGE over a TIMESTAMP order key with an
    # INTERVAL bound parses and executes identically on both engines;
    # the sum goes through scaled-int cents so the frame's money math is
    # exact and order-independent.
    "win_time_range_frame": sql_q(
        """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                    AS DOUBLE) / 100 AS val_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                               AND CURRENT ROW)
        """,
        ("events",),
    ),
    # QUALIFY: filter on a window function without the subquery
    # (DuckDB/Snowflake/BigQuery surface; _rewrite_qualify injects the
    # predicate into the same projection and peels it with * EXCEPT).
    # Top-2 orders per customer; o_orderkey breaks price ties so the kept
    # rows are a deterministic set.
    "qualify_topn": pg_q(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) <= 2
        """,
        ("orders",),
        oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) <= 2
        """,
    ),
    # QUALIFY referencing a select-list ALIAS: resolves via Spark's
    # lateral column aliases after the rewrite (native in DuckDB). RANK
    # keeps ties, so no tiebreaker is needed for determinism.
    "qualify_alias_filter": pg_q(
        """
        SELECT c_nationkey, c_custkey, c_acctbal,
               RANK() OVER (
                 PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk
        FROM customer
        QUALIFY rnk = 1
        """,
        ("customer",),
        oracle="""
        SELECT c_nationkey, c_custkey, c_acctbal,
               RANK() OVER (
                 PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk
        FROM customer
        QUALIFY rnk = 1
        """,
    ),
    # IGNORE NULLS navigation: last-observation-carried-forward gap-fill
    # (the sensor/feature-backfill idiom) + the previous non-null value.
    # The sparse column is synthesized with NULLIF so the entry is
    # self-contained on NULL-free TPC-H data. Dialect split: Spark puts
    # IGNORE NULLS after the call, DuckDB inside the parens.
    "win_ignore_nulls_fill": sql_q(
        """
        SELECT o_orderkey, o_custkey,
               LAST_VALUE(CASE WHEN o_orderstatus = 'F'
                               THEN o_totalprice END) IGNORE NULLS OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_f_price,
               LAG(CASE WHEN o_orderstatus = 'F'
                        THEN o_totalprice END) IGNORE NULLS OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_f_price
        FROM orders
        WHERE o_custkey < 500
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey, o_custkey,
               LAST_VALUE(CASE WHEN o_orderstatus = 'F'
                               THEN o_totalprice END IGNORE NULLS) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_f_price,
               LAG(CASE WHEN o_orderstatus = 'F'
                        THEN o_totalprice END IGNORE NULLS) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_f_price
        FROM orders
        WHERE o_custkey < 500
        """,
    ),
    # FILTER (WHERE ...) on WINDOW aggregates: pg/DuckDB surface Spark
    # rejects outright ("filter predicate not supported yet") —
    # _rewrite_window_filter turns the predicate into the CASE argument
    # (exact equivalent: aggregates skip NULLs). The Spark side runs
    # THROUGH the preprocessor; DuckDB executes the native spelling.
    "win_filter_clause": pg_q(
        """
        SELECT o_orderkey, o_custkey,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
                 OVER w AS BIGINT) AS n_finished_so_far,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_totalprice > 100000.0)
                 OVER w AS DOUBLE) / 100 AS big_total_so_far
        FROM orders
        WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
                 OVER w AS BIGINT) AS n_finished_so_far,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_totalprice > 100000.0)
                 OVER w AS DOUBLE) / 100 AS big_total_so_far
        FROM orders
        WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
    ),
    # Share-of-total / ratio_to_report: per-row fraction of the group
    # total plus the running cumulative share in descending-value order
    # (the "top customers' orders cover X% of their spend" report shape).
    # One window partition (= one shuffle on o_custkey) serves both
    # frames. Identical ANSI SQL on both engines.
    "win_ratio_to_report": sql_q(
        """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice
                    / SUM(o_totalprice) OVER (PARTITION BY o_custkey)
                    AS DECIMAL(18,6)) AS DOUBLE) AS share,
               CAST(CAST(SUM(o_totalprice) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS UNBOUNDED PRECEDING)
                    / SUM(o_totalprice) OVER (PARTITION BY o_custkey)
                    AS DECIMAL(18,6)) AS DOUBLE) AS cum_share
        FROM orders
        WHERE o_custkey < 200
        """,
        ("orders",),
    ),
    # Rolling lag-1 autocorrelation of the purchase value series: corr()
    # as a WINDOW aggregate over a 50-row sliding frame (one shuffle on
    # the partition key; the frame evaluation is streaming within each
    # partition). Rows before the frame fills are dropped by rank on
    # BOTH engines — DuckDB yields NaN and Spark NULL for degenerate
    # frames, so the portable form never emits them. Quantized 6dp.
    "win_rolling_corr": sql_q(
        """
        SELECT event_id, rc FROM (
          SELECT event_id,
                 ROW_NUMBER() OVER (ORDER BY ts) AS rn,
                 CAST(CAST(corr(value, prev_value) OVER (
                        ORDER BY ts
                        ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
                      AS DECIMAL(18,6)) AS DOUBLE) AS rc
          FROM (
            SELECT event_id, ts, value,
                   LAG(value) OVER (ORDER BY ts) AS prev_value
            FROM events WHERE event_type = 'purchase'
          ) lagged
        ) x WHERE rn >= 51
        """,
        ("events",),
    ),
    # Leave-one-out group mean (the standard target-encoding /
    # peer-comparison transform: each row scored against its group
    # WITHOUT itself). Spark has no frame EXCLUDE CURRENT ROW; the
    # exact scaled-integer identity (group_sum - x) / (n - 1) gives the
    # same number deterministically — and is the better plan anyway
    # (one unbounded window, no per-row frame scan). Singleton groups
    # NULL out via NULLIF instead of raising under ANSI mode. The 6dp
    # quantization is the FLOOR(x*1e6+0.5) half-up form, NOT a DECIMAL
    # cast: the exact rational results land on dyadic ties (.0078125)
    # where Spark's HALF_UP and DuckDB's double->DECIMAL rounding
    # disagree on the 6th decimal.
    "win_leave_one_out": sql_q(
        """
        SELECT event_id, event_type,
               CAST(CAST(FLOOR(
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        OVER (PARTITION BY event_type)
                      - CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                   AS DOUBLE) / 100
                 / NULLIF(COUNT(value) OVER (PARTITION BY event_type)
                          - 1, 0)
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000
                 AS loo_mean
        FROM events
        WHERE value IS NOT NULL
        """,
        ("events",),
    ),
    # SQL-standard named windows (pg WINDOW clause): one spec shared by
    # several window functions; executes as ONE Window exchange+sort, not
    # one per function. Same string on both engines. The running sum goes
    # through DECIMAL(25,2) (exact prefix sums, engine-independent).
    "win_named_window": sql_q(
        """
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER w AS rn,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) OVER w
                    AS DOUBLE) AS running_total
        FROM orders
        WHERE o_custkey <= 100
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_custkey, rn
        """,
        ("orders",),
    ),
    # Compound growth index: cumulative product of day-over-day revenue
    # ratios via the EXP(SUM(LN)) rewrite (neither engine has a PRODUCT
    # aggregate). Telescoping makes the true value revenue_t/revenue_1;
    # the entry exists to pin the log-domain idiom itself, which is the
    # only scalable form when the ratios do NOT telescope (e.g. capped
    # or clamped returns).
    "win_cumprod_growth": sql_q(
        f"""
        WITH daily AS ({DAILY_PURCHASE_REVENUE}),
        r AS (
          SELECT day,
                 revenue / LAG(revenue) OVER (ORDER BY day) AS ratio
          FROM daily
        )
        SELECT day,
               CAST(CAST(FLOOR(
                 EXP(SUM(LN(ratio)) OVER (
                     ORDER BY day ROWS UNBOUNDED PRECEDING))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000
                 AS growth_index
        FROM r
        WHERE ratio IS NOT NULL
        """,
        ("events",),
    ),
    # Rolling exact median (7-event frame per user): Spark spells the
    # exact quantile `percentile`, DuckDB `median`; over DOUBLE both
    # interpolate the even-count middle identically (verified to the
    # ulp). LIMIT with a total-order tiebreak keeps the result hash
    # stable.
    "win_rolling_median": sql_q(
        """
        SELECT event_id, user_id,
               CAST(CAST(FLOOR(
                 percentile(value, 0.5) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000
                 AS rolling_median
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id < 200
        ORDER BY user_id, event_id
        LIMIT 500
        """,
        ("events",),
        oracle="""
        SELECT event_id, user_id,
               CAST(CAST(FLOOR(
                 median(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000
                 AS rolling_median
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id < 200
        ORDER BY user_id, event_id
        LIMIT 500
        """,
    ),
}
