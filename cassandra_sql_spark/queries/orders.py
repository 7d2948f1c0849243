"""Commerce analytics over TPC-H orders and lineitem: customer
cohorts, revenue concentration and fulfilment (``order_*``), market
baskets (``basket_*``) and part inventory (``part_*``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.queries.base import (
    LORENZ_GINI,
    Q,
    df_q,
    lorenz_ctes,
    sql_q,
)


# -- running inventory --------------------------------------------------------
# Per-part running net quantity over ship date (returns subtract), with
# the all-time peak and final net — the warehouse-balance shape: one
# shuffle on partkey, one in-partition running window over exact
# integer quantities, then a per-part aggregate. Quantities are
# integral doubles in the fixture; FLOOR(q + 0.5) keeps the cast
# engine-portable (Spark CAST truncates, DuckDB rounds).
_INVENTORY_SQL = """
WITH moves AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R'
              THEN -CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
              ELSE CAST(FLOOR(l_quantity + 0.5) AS BIGINT) END AS q,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem
  -- unshipped moves have no position on the ship-date axis — and NULL
  -- dates ORDER first in Spark ASC but last in DuckDB (the event-
  -- sequence trap), so they are excluded, not ordered
  WHERE l_shipdate IS NOT NULL
),
run AS (
  SELECT l_partkey,
         SUM(q) OVER (PARTITION BY l_partkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS bal
  FROM moves
)
SELECT l_partkey AS partkey,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(MAX(bal) AS BIGINT) AS peak_net,
       CAST(MIN(bal) AS BIGINT) AS trough_net
FROM run GROUP BY l_partkey
ORDER BY partkey
LIMIT 500
"""

# -- ABC revenue classification -----------------------------------------------
# The classic inventory-control cut: parts whose cumulative revenue
# share reaches 80% are class A, 95% B, the tail C. The cumulative
# window sorts the PART-level rollup (dimension-sized — the fact table
# reduces first), and every class boundary is an exact integer
# comparison (cum*100 <= tot*80), so ties resolve identically on both
# engines via the (revenue DESC, partkey) total order.
_ABC_SQL = """
WITH pr AS (
  SELECT l_partkey AS pk,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
), r AS (
  SELECT pk, cents,
         SUM(cents) OVER (ORDER BY cents DESC, pk) AS cum,
         SUM(cents) OVER () AS tot
  FROM pr
), c AS (
  SELECT pk, cents, tot,
         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
              WHEN cum * 100 <= tot * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM r
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS DOUBLE) / 100 AS revenue_usd,
       CAST(SUM(cents) AS DOUBLE) / MAX(tot) AS revenue_share
FROM c GROUP BY abc_class ORDER BY abc_class
"""

# -- Order fulfillment lag percentiles -----------------------------------------
# Days from order placement to line shipment, p50/p90/p99 per order
# priority — the SLA panel. Lags are exact integer day differences on a
# BOUNDED domain (1..~125 days per the TPC-H generation rules), so the
# scale-safe exact-percentile idiom is the _TTC_BODY distinct-value
# shape (queries/events.py, event_time_to_convert): GROUP BY (pr, d)
# reduces the fact-sized join to <= 5 x ~125 rows BEFORE any window
# runs, and the discrete percentile is the smallest d whose cumulative
# count clears the exact-integer threshold (cum * 100 >= tot * P —
# identical tie handling on both engines, no double CUME_DIST compare).
# The earlier CUME_DIST-over-raw-rows form sorted the whole
# orders><lineitem join through 5 reducers — a single-key hot-partition
# scale-killer at 100x; plan-pinned now:
# the Window input subtree must contain a final HashAggregate and the
# windowed row count is day-domain-bounded.
_FULFILL_BODY = """
WITH lag AS (
  SELECT o.o_orderpriority AS pr, {lagdays} AS d
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
), g AS (
  SELECT pr, d, COUNT(*) AS c FROM lag GROUP BY pr, d
), r AS (
  SELECT pr, d, c,
         SUM(c) OVER (PARTITION BY pr ORDER BY d) AS cum,
         SUM(c) OVER (PARTITION BY pr) AS tot
  FROM g
)
SELECT pr AS o_orderpriority, CAST(MAX(tot) AS BIGINT) AS n_lines,
       CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN d END)
            AS BIGINT) AS p50_days,
       CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN d END)
            AS BIGINT) AS p90_days,
       CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN d END)
            AS BIGINT) AS p99_days
FROM r GROUP BY pr ORDER BY pr
"""

_FULFILL_SPARK = _FULFILL_BODY.format(
    lagdays="DATEDIFF(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))"
)

_FULFILL_DUCK = _FULFILL_BODY.format(
    lagdays="(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE))"
)

# -- Revenue concentration (HHI) -----------------------------------------------
# Herfindahl-Hirschman index of customer revenue concentration plus the
# top-10 share — the is-my-revenue-one-whale panel. Two scale fixes over
# the first spelling: (1) the
# top-10 comes from a 10-row ORDER BY ... LIMIT 10 derived table
# (TakeOrderedAndProject = per-partition partial top-k), NOT an
# unpartitioned ROW_NUMBER consumed inside a CASE-aggregate that
# defeats rank pushdown and single-partition-sorts the customer rollup;
# (2) HHI sums share^2 quantized onto the 1e-15 grid (exact BIGINT
# terms bounded by 1e15 + n/2, order-free) instead of SUM(d*d), whose
# raw dollar squares overflow int64 near sf30 while DuckDB's HUGEINT
# silently masks it. share = d/s1 is one correctly-rounded divide of
# exact integers — identical on both engines. The customer rollup is
# checkpointed: the tail reads it three times (sums, share terms,
# top-10) and CTE inlining would re-scan orders per reference. n=1
# leaves normalized HHI undefined -> NULL.
_HHI_CUST = """
  SELECT o_custkey,
         CAST(FLOOR(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              / 100.0 + 0.5) AS BIGINT) AS d
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY o_custkey
"""

_HHI_TAIL = """
WITH s AS (
  SELECT COUNT(*) AS n, SUM(d) AS s1 FROM {v}
), t AS (
  SELECT CAST(FLOOR(
           (CAST(c.d AS DOUBLE) / CAST(s.s1 AS DOUBLE))
           * (CAST(c.d AS DOUBLE) / CAST(s.s1 AS DOUBLE)) * 1e15 + 0.5)
         AS BIGINT) AS q
  FROM {v} c CROSS JOIN s
), hh AS (
  SELECT SUM(q) AS sq FROM t
), top AS (
  SELECT SUM(d) AS top10 FROM (
    SELECT d FROM {v} ORDER BY d DESC, o_custkey LIMIT 10
  ) h
)
SELECT CAST(s.n AS BIGINT) AS n_customers,
       CAST(CAST(CAST(hh.sq AS DOUBLE) / 1e15
            AS DECIMAL(18,9)) AS DOUBLE) AS hhi,
       CASE WHEN s.n = 1 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              (CAST(hh.sq AS DOUBLE) / 1e15 - 1.0 / s.n)
              / (1 - 1.0 / s.n)
              AS DECIMAL(18,9)) AS DOUBLE)
       END AS hhi_normalized,
       CAST(CAST(CAST(top.top10 AS DOUBLE) / CAST(s.s1 AS DOUBLE)
            AS DECIMAL(18,9)) AS DOUBLE) AS top10_share
FROM s CROSS JOIN hh CROSS JOIN top
"""


def _hhi(spark, sf):
    """Customer rollup checkpointed once (dimension-rollup-sized); the
    tail's three consumers read the ExistingRDD, zero parquet scans in
    the final plan."""
    cust = spark.sql(_HHI_CUST).localCheckpoint(eager=True)
    cust.createOrReplaceTempView("hhi_cust")
    return spark.sql(_HHI_TAIL.format(v="hhi_cust"))


_HHI_DUCK = (
    "WITH hc AS ("
    + _HHI_CUST
    + "), "
    + _HHI_TAIL.format(v="hc").replace("WITH ", "", 1)
)


# -- Gini coefficient of customer revenue -------------------------------------
# The Lorenz-curve inequality panel next to order_revenue_hhi: G =
# 2*sum((i/n)*(x_i/S)) - (n+1)/n over ascending per-customer dollars,
# on the exact 1e-15 term grid of base.lorenz_ctes (no raw i*x_i BIGINT
# products, which pass 2^63 near sf10). The full rank vector over the CUSTOMER rollup is
# genuinely the semantics (every customer contributes a Lorenz term),
# but the rank itself runs through operators.global_order.sharded_rank
# — per-shard ROW_NUMBER after a range repartition plus broadcast
# prefix-count offsets — so there is NO single-reducer global sort
# even at the ~1.5B-customer 100 TB point (the rollup is checkpointed
# and read twice: shard totals + rank pass). Ties on equal dollars carry the o_custkey tiebreak; the
# quantized term-sum is permutation-invariant within a tied block, so
# the tiebreak never changes the output. The DuckDB oracle keeps the
# plain global window — the sharded form must MATCH it (also pinned by
# tests/test_global_order.py's exceptAll identity at sf0.1/sf1).
def _gini_tail(v: str, ranked: str) -> str:
    return f"""
WITH f AS (
  -- a customer whose every order price is NULL has no revenue total
  -- (SUM over all-NULL is NULL) and no place on the Lorenz curve;
  -- excluded EXPLICITLY because a NULL d would otherwise rank first
  -- in Spark ASC and last in DuckDB, shifting every rank by one (the
  -- event-sequence NULL-ordering trap, caught by the adversarial
  -- TPC-H suite)
  SELECT o_custkey, d FROM {v} WHERE d IS NOT NULL
), {lorenz_ctes("f", "d", ranked)}
SELECT CAST(s.n AS BIGINT) AS n_customers,
       CAST(CAST({LORENZ_GINI} AS DECIMAL(18,9)) AS DOUBLE) AS gini,
       CASE WHEN s.n = 1 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              ({LORENZ_GINI}) * s.n / (s.n - 1.0)
              AS DECIMAL(18,9)) AS DOUBLE)
       END AS gini_normalized
FROM s CROSS JOIN lz
"""


def _gini(spark, sf):
    """Reuses the checkpointed HHI customer rollup shape: one orders
    scan at build, ExistingRDD reads in the tail. The Lorenz rank is
    sharded_rank (no SinglePartition sort, see the comment above)."""
    from cassandra_sql_spark.operators.global_order import sharded_rank

    cust = spark.sql(_HHI_CUST).localCheckpoint(eager=True)
    ranked = sharded_rank(
        cust.filter(F.col("d").isNotNull()).select("o_custkey", "d"),
        ["d", "o_custkey"],
        rank_col="i",
    )
    ranked.createOrReplaceTempView("gini_ranked")
    cust.createOrReplaceTempView("gini_cust")
    return spark.sql(
        _gini_tail("gini_cust", "SELECT d, i FROM gini_ranked")
    )


_GINI_DUCK = (
    "WITH gc AS ("
    + _HHI_CUST
    + "), "
    + _gini_tail(
        "gc",
        "SELECT d, ROW_NUMBER() OVER (ORDER BY d, o_custkey) AS i FROM f",
    ).replace("WITH ", "", 1)
)

# -- Market-basket lift over part brands --------------------------------------
# Which part brands co-occur in orders beyond chance? lift(a,b) =
# P(ab) / (P(a) P(b)) over order baskets at BRAND granularity — the
# association-rule screen before a recommender fits anything. The
# basket table (DISTINCT order x brand) is bounded by lines-per-order
# (<= 7 in TPC-H), so the per-order pair fan-out is <= C(7,2) = 21 —
# linear in orders at any scale. The basket is checkpointed (four tail
# consumers); counts are exact, lift is one correctly-rounded double
# expression of exact integers, and the top-15 cut totals on
# (lift DESC, brand pair).
_BASKET = """
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""

_LIFT_TAIL = """
WITH nb AS (
  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM {v}
), bc AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM {v} GROUP BY brand
), pairs AS (
  SELECT a.brand AS b1, b.brand AS b2, CAST(COUNT(*) AS BIGINT) AS cab
  FROM {v} a JOIN {v} b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT p.b1 AS brand_a, p.b2 AS brand_b,
       p.cab AS n_orders_both, ca.c AS n_orders_a, cb.c AS n_orders_b,
       CAST(CAST(
         CAST(p.cab AS DOUBLE) * nb.n / (ca.c * cb.c)
         AS DECIMAL(18,6)) AS DOUBLE) AS lift
FROM pairs p
JOIN bc ca ON p.b1 = ca.brand
JOIN bc cb ON p.b2 = cb.brand
CROSS JOIN nb
WHERE p.cab >= 5
ORDER BY lift DESC, brand_a, brand_b
LIMIT 15
"""


def _basket_lift(spark, sf):
    basket = spark.sql(_BASKET).localCheckpoint(eager=True)
    basket.createOrReplaceTempView("lift_basket")
    return spark.sql(_LIFT_TAIL.format(v="lift_basket"))


_LIFT_DUCK = (
    "WITH bk AS ("
    + _BASKET
    + "), "
    + _LIFT_TAIL.format(v="bk").replace("WITH ", "", 1)
)

# -- Repeat-purchase panel -----------------------------------------------------
# Share of customers with 2+ orders and the exact median inter-order
# gap in days — computed on the distinct-value percentile idiom
# (GROUP BY gap first: the gap domain is bounded by the order-date
# calendar, so the cumulative window input is day-domain-sized, the
# order_fulfillment_lag discipline). Customer order sequences shard
# on o_custkey.
_REPEAT_PURCHASE_BODY = """
WITH seq AS (
  SELECT o_custkey,
         {gapdays} AS gap
  FROM (
    SELECT o_custkey, o_orderdate,
           LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
             AS prev_dt
    FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  ) t WHERE prev_dt IS NOT NULL
), cust AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  GROUP BY o_custkey
), share AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeat
  FROM cust
), g AS (
  SELECT gap, COUNT(*) AS c FROM seq GROUP BY gap
), r AS (
  SELECT gap, c,
         SUM(c) OVER (ORDER BY gap) AS cum,
         SUM(c) OVER () AS tot
  FROM g
), med AS (
  SELECT CAST(MIN(CASE WHEN cum * 2 >= tot THEN gap END) AS BIGINT)
           AS median_gap_days,
         CAST(MAX(tot) AS BIGINT) AS n_gaps
  FROM r
)
SELECT s.n_customers, s.n_repeat,
       CAST(CAST(CAST(s.n_repeat AS DOUBLE) / s.n_customers
            AS DECIMAL(18,6)) AS DOUBLE) AS repeat_share,
       m.median_gap_days, m.n_gaps
FROM share s CROSS JOIN med m
"""

_REPEAT_SPARK = _REPEAT_PURCHASE_BODY.format(
    gapdays="DATEDIFF(CAST(o_orderdate AS DATE), CAST(prev_dt AS DATE))"
)

_REPEAT_DUCK = _REPEAT_PURCHASE_BODY.format(
    gapdays="(CAST(o_orderdate AS DATE) - CAST(prev_dt AS DATE))"
)

QUERIES: dict[str, Q] = {
    # Cohort lifetime value: customers cohorted by first-order month,
    # revenue rolled up by months-since-first-order. Months are encoded
    # as y*12+m integers so both engines group on exact keys (date_trunc
    # returns DATE in DuckDB but TIMESTAMP in Spark). Two shuffles:
    # the first-order reduction and the cohort rollup.
    "order_cohort_ltv": sql_q(
        """
        WITH f AS (
          SELECT o_custkey,
                 MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                     + EXTRACT(MONTH FROM o_orderdate)) AS first_ym
          FROM orders GROUP BY o_custkey
        )
        SELECT CAST(f.first_ym AS BIGINT) AS cohort_ym,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) * 12
                    + EXTRACT(MONTH FROM o.o_orderdate) - f.first_ym
                    AS BIGINT) AS month_offset,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        GROUP BY f.first_ym,
                 EXTRACT(YEAR FROM o.o_orderdate) * 12
                   + EXTRACT(MONTH FROM o.o_orderdate)
        ORDER BY cohort_ym, month_offset
        """,
        ("orders",),
    ),
    # Market-basket pair lift over order line items (association-rule
    # mining's core primitive). The self-join fans out per order by at
    # most (items-per-order choose 2) — TPC-H averages 4 lines/order —
    # never all-pairs over the table; lift stays exact because every
    # count product is below 2^53 before the single division.
    "basket_pair_lift": sql_q(
        """
        WITH it AS (
          SELECT DISTINCT l_orderkey AS ok, p_type AS t
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), n AS (
          SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM it
        ), tc AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM it GROUP BY t
        ), pairs AS (
          SELECT a.t AS t1, b.t AS t2, CAST(COUNT(*) AS BIGINT) AS c12
          FROM it a JOIN it b ON a.ok = b.ok AND a.t < b.t
          GROUP BY a.t, b.t
        )
        SELECT t1, t2, c12,
               CAST(c12 AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                 / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
        FROM pairs
        JOIN tc ca ON ca.t = pairs.t1
        JOIN tc cb ON cb.t = pairs.t2
        CROSS JOIN n
        WHERE c12 >= 5
        ORDER BY lift DESC, t1, t2
        LIMIT 50
        """,
        ("lineitem", "part"),
    ),
    "part_running_inventory": sql_q(_INVENTORY_SQL, ("lineitem",)),
    "order_revenue_hhi": df_q(_hhi, ("orders",), oracle=_HHI_DUCK),
    "part_revenue_abc": sql_q(_ABC_SQL, ("lineitem",)),
    "order_fulfillment_lag": sql_q(
        _FULFILL_SPARK, ("orders", "lineitem"), oracle=_FULFILL_DUCK
    ),
    "order_revenue_gini": df_q(_gini, ("orders",), oracle=_GINI_DUCK),
    "basket_lift_brand_pairs": df_q(
        _basket_lift, ("lineitem", "part"), oracle=_LIFT_DUCK
    ),
    "order_repeat_purchase": sql_q(
        _REPEAT_SPARK, ("orders",), oracle=_REPEAT_DUCK
    ),
}
