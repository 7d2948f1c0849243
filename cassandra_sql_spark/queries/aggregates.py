"""Aggregation (SURVEY §2.4; reference kv/KvQueryExecutor.java:3269-3989):
``agg_*``, ``pivot_*`` and ``unpivot_*``.

The reference does a single-pass in-heap hash aggregation keyed on a
concatenated string. Spark's groupBy is partial+final with spill — the
shuffle carries only one partially-aggregated row per (partition, key).
COUNT(DISTINCT), ROLLUP, CUBE and GROUPING SETS are deliberate upgrades the
reference lacks (no DISTINCT flag in AggregateFunction.java:8-14).
MIN/MAX here are type-generic (the reference coerces to double —
kv/KvQueryExecutor.java:3782-3822 — misbehaving on strings; not replicated).
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import Q, davg, dsum, isum, sql_q


# SQL:2003 hypothetical-set aggregates — RANK/DENSE_RANK/PERCENT_RANK
# of a hypothetical value x WITHIN GROUP (ORDER BY value). Neither
# Spark nor DuckDB ships the ordered-aggregate syntax, so the entry
# implements the standard's defining formulas (rank = 1 + count(v<x),
# dense = 1 + count(distinct v<x), pct = (rank-1)/N) — identical
# counting SQL on both engines, exact ints until the one division.
_HYPOTHETICAL_RANK = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(1 + COUNT(CASE WHEN value < 500.0 THEN 1 END) AS BIGINT)
         AS rank_500,
       CAST(1 + COUNT(DISTINCT CASE WHEN value < 500.0 THEN value END)
            AS BIGINT) AS dense_rank_500,
       CAST(COUNT(CASE WHEN value < 500.0 THEN 1 END) AS DOUBLE)
         / COUNT(*) AS percent_rank_500
FROM events
WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""

QUERIES: dict[str, Q] = {
    # Global aggregate, no GROUP BY (COUNT(*) / COUNT(col) / SUM / AVG /
    # MIN / MAX in one pass).
    "agg_global": sql_q(
        f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(o_totalprice) AS n_price,
               {dsum('o_totalprice', 'sum_price')},
               {davg('o_totalprice', 'avg_price')},
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders
        """,
        ("orders",),
    ),
    "agg_groupby_multi": sql_q(
        f"""
        SELECT l_returnflag, l_linestatus, l_linenumber,
               COUNT(*) AS cnt, {dsum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus, l_linenumber
        """,
        ("lineitem",),
    ),
    # HAVING over aggregate expressions
    # (reference kv/KvQueryExecutor.java:3832-3989).
    "agg_having": sql_q(
        f"""
        SELECT o_custkey, COUNT(*) AS n_orders,
               {dsum('o_totalprice', 'total_spend')}
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) > 12 AND SUM(o_totalprice) > 1000000
        """,
        ("orders",),
    ),
    # Aggregate over an arithmetic expression (reference FIXTURES F2:
    # SUM(amount * quantity)); string MIN/MAX is type-generic here.
    "agg_expr": sql_q(
        f"""
        SELECT l_returnflag,
               {dsum('l_quantity * l_extendedprice', 'gross', 6)},
               MIN(l_linestatus) AS min_status,
               MAX(l_linestatus) AS max_status
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
    ),
    # COUNT(DISTINCT) + multi-arg distinct — absent in the reference
    # (SURVEY §2.4 "NOT implemented"); Spark expands via expand+two-phase agg.
    "agg_count_distinct": sql_q(
        """
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
    ),
    # Aggregation over a join base (reference kv/KvQueryExecutor.java:3282-3290).
    "agg_over_join": sql_q(
        f"""
        SELECT n_name, COUNT(*) AS n_customers, {dsum('c_acctbal', 'sum_bal')}
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        ("customer", "nation"),
    ),
    # Aggregation over a derived table
    # (reference kv/KvQueryExecutor.java:5857-6048 — a second agg
    # implementation; one declarative path here).
    "agg_over_derived": sql_q(
        f"""
        SELECT big_spender, COUNT(*) AS n, {dsum('total_spend', 'spend')}
        FROM (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
                   AS total_spend,
                 CASE WHEN SUM(o_totalprice) > 1500000 THEN 'Y' ELSE 'N' END
                   AS big_spender
          FROM orders GROUP BY o_custkey
        ) t
        GROUP BY big_spender
        """,
        ("orders",),
    ),
    # ROLLUP / CUBE — upgrades over the reference (grouping-set shuffles
    # are a single expand + one shuffle in Spark).
    "agg_rollup": sql_q(
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               {isum('l_linenumber', 'sum_ln')}
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        ("lineitem",),
    ),
    "agg_cube": sql_q(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        ("orders",),
    ),
    "agg_where_then_group": sql_q(
        f"""
        SELECT o_orderpriority, COUNT(*) AS n,
               {davg('o_totalprice', 'avg_price')}
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderstatus = 'F'
        GROUP BY o_orderpriority
        """,
        ("orders",),
    ),
    # Exact interpolated percentiles (linear interpolation matches
    # DuckDB quantile_cont bit-for-bit on the same doubles); at scale the
    # approx_percentile sketch is the alternative (agg_approx_distinct_bound
    # shows the sketch pattern).
    "agg_percentiles": sql_q(
        """
        SELECT l_returnflag,
               percentile(l_quantity, 0.25) AS p25,
               percentile(l_quantity, 0.5) AS p50,
               percentile(l_quantity, 0.75) AS p75,
               percentile(l_extendedprice, 0.9) AS p90
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
        oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25,
               quantile_cont(l_quantity, 0.5) AS p50,
               quantile_cont(l_quantity, 0.75) AS p75,
               quantile_cont(l_extendedprice, 0.9) AS p90
        FROM lineitem
        GROUP BY l_returnflag
        """,
    ),
    # Ordered-set aggregates: SQL-standard WITHIN GROUP spelling for
    # exact interpolated/discrete percentiles (same linear interpolation
    # both engines, see agg_percentiles precedent).
    "agg_within_group": sql_q(
        """
        SELECT l_returnflag,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)
                 AS median_qty,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
                 AS q1_qty,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
                 AS p90_price
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
    ),
    # Boolean aggregates + COUNT_IF (pg bool_and/bool_or; the reference
    # has no boolean aggregate at all).
    "agg_bool_countif": sql_q(
        """
        SELECT o_orderpriority,
               bool_and(o_totalprice > 1000.0) AS all_over_1k,
               bool_or(o_orderstatus = 'F') AS any_finished,
               CAST(count_if(o_totalprice > 150000.0) AS BIGINT) AS n_big
        FROM orders
        GROUP BY o_orderpriority
        """,
        ("orders",),
    ),
    "agg_bitwise": sql_q(
        """
        SELECT o_orderpriority,
               CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
               CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
               CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor
        FROM orders GROUP BY o_orderpriority
        """,
        ("orders",),
    ),
    # Statistical aggregates (CORR / REGR_* / STDDEV): the bivariate
    # statistics family the reference's aggregate set lacks entirely.
    # Both engines accumulate co-moments whose final ulps depend on the
    # partial-merge order, so every statistic lands as DECIMAL(18,6) ->
    # DOUBLE (the dedup_embedding_cosine convention).
    "agg_stats_regression": sql_q(
        """
        SELECT l_returnflag,
               CAST(CAST(corr(l_extendedprice, l_quantity)
                    AS DECIMAL(18,6)) AS DOUBLE) AS price_qty_corr,
               CAST(CAST(regr_slope(l_extendedprice, l_quantity)
                    AS DECIMAL(18,6)) AS DOUBLE) AS slope,
               CAST(CAST(regr_intercept(l_extendedprice, l_quantity)
                    AS DECIMAL(18,6)) AS DOUBLE) AS intercept,
               CAST(CAST(regr_r2(l_extendedprice, l_quantity)
                    AS DECIMAL(18,6)) AS DOUBLE) AS r2,
               CAST(CAST(stddev_samp(l_quantity)
                    AS DECIMAL(18,6)) AS DOUBLE) AS qty_stddev
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
    ),
    # LISTAGG ... WITHIN GROUP (ORDER BY ...): the SQL-standard ordered
    # string aggregate (Spark 4 native; DuckDB spells it string_agg with
    # an inline ORDER BY).
    "agg_listagg": sql_q(
        """
        SELECT r.r_name, listagg(n.n_name, ',')
                 WITHIN GROUP (ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """,
        ("region", "nation"),
        oracle="""
        SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name)
                 AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """,
    ),
    # GROUP BY ALL: every non-aggregate select item becomes a grouping
    # key (identical semantics both engines).
    "agg_group_by_all": sql_q(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 AS DOUBLE) / 100 AS revenue
        FROM orders
        GROUP BY ALL
        """,
        ("orders",),
    ),
    # UNPIVOT to long format (same syntax both engines). Metric labels
    # are the source column names on both sides.
    "unpivot_measures": sql_q(
        """
        SELECT o_orderkey, metric, val
        FROM (
          SELECT o_orderkey,
                 o_totalprice AS price,
                 CAST(o_orderkey % 97 AS DOUBLE) AS checksum
          FROM orders WHERE o_orderkey < 400
        ) UNPIVOT (val FOR metric IN (price, checksum))
        """,
        ("orders",),
    ),
    # Deterministic MODE: most frequent value per group with ties broken
    # by the value itself (both engines' native mode() picks an
    # unspecified row on ties, so the portable form is the windowed one).
    "agg_mode_deterministic": sql_q(
        """
        WITH c AS (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
          FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt
        FROM (
          SELECT o_orderstatus, o_orderpriority, cnt,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                    ORDER BY cnt DESC, o_orderpriority) AS rn
          FROM c
        ) x
        WHERE rn = 1
        ORDER BY o_orderstatus
        """,
        ("orders",),
    ),
    # Higher-moment aggregates: skewness / excess kurtosis / covariance.
    # Spark's skewness/kurtosis are the POPULATION moments (g1 = m3/m2^1.5,
    # g2 = m4/m2^2 - 3) while DuckDB's builtins apply the sample
    # correction, so the oracle recomputes the population moments
    # (with a null-safe join: a NULL group key keeps its group)
    # explicitly from a two-pass centered AVG (numerically stable — no
    # raw-moment cancellation). covar_pop/covar_samp agree natively.
    # Quantized at 6 decimals (skew/kurt are O(1)) / 2 decimals (covar is
    # O(price*qty)) to absorb summation-order ulps on both engines.
    "agg_higher_moments": sql_q(
        """
        SELECT l_returnflag,
               CAST(CAST(skewness(l_quantity) AS DECIMAL(18,6))
                    AS DOUBLE) AS qty_skew,
               CAST(CAST(kurtosis(l_quantity) AS DECIMAL(18,6))
                    AS DOUBLE) AS qty_kurt,
               CAST(CAST(covar_pop(l_quantity, l_extendedprice)
                    AS DECIMAL(18,2)) AS DOUBLE) AS qp_covar_pop,
               CAST(CAST(covar_samp(l_quantity, l_extendedprice)
                    AS DECIMAL(18,2)) AS DOUBLE) AS qp_covar_samp
        FROM lineitem
        GROUP BY l_returnflag
        """,
        ("lineitem",),
        oracle="""
        WITH mu AS (
          SELECT l_returnflag, AVG(l_quantity) AS m
          FROM lineitem GROUP BY l_returnflag
        ),
        c AS (
          SELECT l.l_returnflag,
                 AVG(POWER(l.l_quantity - mu.m, 2)) AS m2,
                 AVG(POWER(l.l_quantity - mu.m, 3)) AS m3,
                 AVG(POWER(l.l_quantity - mu.m, 4)) AS m4,
                 covar_pop(l.l_quantity, l.l_extendedprice) AS cp,
                 covar_samp(l.l_quantity, l.l_extendedprice) AS cs
          FROM lineitem l JOIN mu
            ON l.l_returnflag IS NOT DISTINCT FROM mu.l_returnflag
          GROUP BY l.l_returnflag
        )
        SELECT l_returnflag,
               CAST(CAST(m3 / POWER(m2, 1.5) AS DECIMAL(18,6))
                    AS DOUBLE) AS qty_skew,
               CAST(CAST(m4 / (m2 * m2) - 3.0 AS DECIMAL(18,6))
                    AS DOUBLE) AS qty_kurt,
               CAST(CAST(cp AS DECIMAL(18,2)) AS DOUBLE) AS qp_covar_pop,
               CAST(CAST(cs AS DECIMAL(18,2)) AS DOUBLE) AS qp_covar_samp
        FROM c
        """,
    ),
    # GROUPING() disambiguates real NULL group keys from the NULLs
    # ROLLUP synthesizes for subtotal rows (identical semantics both
    # engines; Spark returns TINYINT, DuckDB BIGINT -> CAST to INT).
    "agg_grouping_function": sql_q(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        ("orders",),
    ),
    # Median absolute deviation (the robust spread statistic quality
    # pipelines prefer over stddev on heavy-tailed metrics): two exact
    # percentile passes — group medians (a model-sized table), then the
    # median of |x - med| with the medians joined back. Spark's exact
    # percentile() and DuckDB's quantile_cont share the (n-1)p linear
    # interpolation bit-for-bit on DOUBLE input (probed; DECIMAL input
    # diverges, so the oracle never lets values decay to DECIMAL).
    "agg_mad_robust": sql_q(
        """
        WITH med AS (
          SELECT event_type, percentile(value, 0.5) AS med
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(CAST(MAX(med.med) AS DECIMAL(18,6)) AS DOUBLE)
                 AS median_v,
               CAST(CAST(percentile(ABS(e.value - med.med), 0.5)
                    AS DECIMAL(18,6)) AS DOUBLE) AS mad
        FROM events e JOIN med ON e.event_type = med.event_type
        GROUP BY e.event_type
        """,
        ("events",),
        oracle="""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(CAST(MAX(med.med) AS DECIMAL(18,6)) AS DOUBLE)
                 AS median_v,
               CAST(CAST(quantile_cont(ABS(e.value - med.med), 0.5)
                    AS DECIMAL(18,6)) AS DOUBLE) AS mad
        FROM events e JOIN med ON e.event_type = med.event_type
        GROUP BY e.event_type
        """,
    ),
    # 5-95 trimmed mean: per-group percentile cutoffs (model-sized,
    # broadcast back) then one filtered aggregation — the outlier-robust
    # mean for bid/latency/price metrics. The cutoff doubles are
    # identical on both engines (same interpolation), so the kept-row
    # set is identical; the mean uses the exact scaled-integer sum.
    "agg_trimmed_mean": sql_q(
        """
        WITH b AS (
          SELECT event_type,
                 percentile(value, 0.05) AS lo,
                 percentile(value, 0.95) AS hi
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(CAST(
                 CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100 / COUNT(*)
               AS DECIMAL(18,6)) AS DOUBLE) AS trimmed_mean
        FROM events e JOIN b ON e.event_type = b.event_type
        WHERE e.value BETWEEN b.lo AND b.hi
        GROUP BY e.event_type
        """,
        ("events",),
        oracle="""
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(CAST(
                 CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100 / COUNT(*)
               AS DECIMAL(18,6)) AS DOUBLE) AS trimmed_mean
        FROM events e JOIN b ON e.event_type = b.event_type
        WHERE e.value BETWEEN b.lo AND b.hi
        GROUP BY e.event_type
        """,
    ),
    # Native PIVOT clause (long -> wide): day-of-week x event-type count
    # matrix. Spark spells value aliases inline; DuckDB names the output
    # columns after the bare IN literals — the aliases keep the two
    # column sets identical. Spark leaves a cell with NO source rows
    # NULL where DuckDB's COUNT writes 0 (adversarial net); COALESCE
    # restores count semantics. dayofweek(ts)-1 == DuckDB's extract(dow)
    # (0 = Sunday). At scale this is one hash aggregate on (dow) with
    # map-side partials — the pivot is a projection, not a shuffle.
    "pivot_native": sql_q(
        """
        SELECT dow,
               COALESCE(view, 0) AS view,
               COALESCE(click, 0) AS click,
               COALESCE(error, 0) AS error,
               COALESCE(purchase, 0) AS purchase,
               COALESCE(signup, 0) AS signup
        FROM (
          SELECT * FROM (
            SELECT dayofweek(ts) - 1 AS dow, event_type FROM events
          )
          PIVOT (COUNT(*) FOR event_type IN
                 ('view' AS view, 'click' AS click, 'error' AS error,
                  'purchase' AS purchase, 'signup' AS signup))
        )
        ORDER BY dow
        """,
        ("events",),
        oracle="""
        SELECT * FROM (
          SELECT CAST(extract(dow FROM ts) AS INTEGER) AS dow, event_type
          FROM events
        )
        PIVOT (COUNT(*) FOR event_type IN
               ('view', 'click', 'error', 'purchase', 'signup'))
        ORDER BY dow
        """,
    ),
    # GROUPING SETS + GROUPING() disambiguation (upgrade; SURVEY §2.4).
    "agg_grouping_sets": sql_q(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) AS g_status,
               GROUPING(o_orderpriority) AS g_prio,
               COUNT(*) AS n, {isum('o_orderkey % 97', 'chk')}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        ("orders",),
    ),
    # Manual pivot via conditional aggregation (engine-portable PIVOT).
    "agg_manual_pivot": sql_q(
        """
        SELECT o_orderpriority,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY o_orderpriority
        """,
        ("orders",),
    ),
    # approx_count_distinct within declared error of the exact count —
    # the 100 TB cardinality-estimation path (HLL++ is deterministic for
    # fixed input, so the bound check is stable).
    "agg_approx_distinct_bound": sql_q(
        """
        SELECT COUNT(DISTINCT o_custkey) AS exact_n,
               CASE WHEN
                 ABS(APPROX_COUNT_DISTINCT(o_custkey, 0.01) -
                     COUNT(DISTINCT o_custkey)) / COUNT(DISTINCT o_custkey)
                   < 0.05
               THEN 1 ELSE 0 END AS within_bound
        FROM orders
        """,
        ("orders",),
        oracle="""
        SELECT COUNT(DISTINCT o_custkey) AS exact_n, 1 AS within_bound
        FROM orders
        """,
    ),
    # approx_percentile sketch bound-checked against the exact percentile
    # (same pattern as agg_approx_distinct_bound: the sketch answer is
    # engine-specific, the BOUND is checkable cross-engine). The sketch is
    # the 100 TB path — mergeable per-partition state, no global sort.
    "agg_approx_percentile_bound": sql_q(
        """
        SELECT l_returnflag,
               CAST(PERCENTILE(l_quantity, 0.5) AS DOUBLE) AS exact_p50,
               -- an all-NULL group has no data and no sketch error: the
               -- bound claim is vacuously true (matches the oracle's 1)
               CASE WHEN PERCENTILE(l_quantity, 0.5) IS NULL THEN 1
                    WHEN ABS(APPROX_PERCENTILE(l_quantity, 0.5, 10000)
                             - PERCENTILE(l_quantity, 0.5)) <= 1.0
               THEN 1 ELSE 0 END AS within_bound
        FROM lineitem GROUP BY l_returnflag
        """,
        ("lineitem",),
        oracle="""
        SELECT l_returnflag,
               CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS exact_p50,
               1 AS within_bound
        FROM lineitem GROUP BY l_returnflag
        """,
    ),
    # Ordered string aggregation (pg string_agg ... ORDER BY): Spark 4's
    # listagg WITHIN GROUP == DuckDB's string_agg with ORDER BY. The
    # deterministic ORDER BY inside the aggregate is what makes the
    # result oracle-comparable at all.
    "agg_string_agg": sql_q(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                 AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        ("nation",),
        oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """,
    ),
    # pg FILTER (WHERE ...) aggregate clause — per-aggregate predicates
    # without CASE scaffolding; same SQL both engines. The filtered money
    # sum goes through scaled-int cents (exact, order-independent).
    "agg_filter_clause": sql_q(
        """
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100
                 AS rev_o
        FROM orders GROUP BY o_orderpriority
        """,
        ("orders",),
    ),
    # Discrete percentiles (the actual stored value at or above the
    # cut, never an interpolation — PERCENTILE_DISC semantics) via
    # CUME_DIST + conditional MIN: deterministic because the answer is a
    # data value, not arithmetic.
    "agg_percentile_disc": sql_q(
        """
        WITH r AS (
          SELECT o_orderpriority AS pr, o_totalprice AS v,
                 CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice) AS cd
          FROM orders
        )
        SELECT pr,
               MIN(CASE WHEN cd >= 0.25 THEN v END) AS p25,
               MIN(CASE WHEN cd >= 0.5 THEN v END) AS p50,
               MIN(CASE WHEN cd >= 0.75 THEN v END) AS p75
        FROM r GROUP BY pr ORDER BY pr
        """,
        ("orders",),
    ),
    # Quantity-weighted median price per return flag: smallest value
    # whose cumulative weight reaches half the total. Weights stay
    # integral (FLOOR(q+0.5), not CAST — Spark truncates double->bigint
    # where DuckDB rounds) and the threshold compares 2*cum >= total in
    # integers, so no division ever happens. Intra-tie cumulative order
    # is nondeterministic but harmless: crossing inside a tie block
    # selects that block's value either way.
    "agg_weighted_median": sql_q(
        """
        WITH x AS (
          SELECT l_returnflag AS flag, l_extendedprice AS v,
                 CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS wt
          FROM lineitem
        ), c AS (
          SELECT flag, v,
                 SUM(wt) OVER (PARTITION BY flag ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cw,
                 SUM(wt) OVER (PARTITION BY flag) AS tw
          FROM x
        )
        SELECT flag, MIN(CASE WHEN 2 * cw >= tw THEN v END)
                 AS weighted_median
        FROM c GROUP BY flag ORDER BY flag
        """,
        ("lineitem",),
    ),
    "agg_hypothetical_rank": sql_q(_HYPOTHETICAL_RANK, ("events",)),
}
