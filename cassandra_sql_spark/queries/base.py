"""Registry plumbing for the operator-inventory query catalog.

Each query module exposes ``QUERIES: dict[str, Q]``. A ``Q`` bundles the
Spark implementation (``(spark, sf_dir) -> DataFrame``) with the DuckDB
oracle SQL (or ``None`` for ops the driver checks rows-only).

Conventions that keep the driver's hash compare stable (see SURVEY §5):
- Alias every computed column identically in Spark and oracle SQL.
- Integer aggregates: CAST(... AS BIGINT) on both sides (DuckDB SUM(int)
  is HUGEINT, Spark is LONG).
- Double aggregates: sum via DECIMAL(25,2) then CAST to DOUBLE — decimal
  addition is exact, so the result is order-independent and engine-independent
  (a bare SUM(double) differs in final ulps between engines/partitionings).
- Queries with LIMIT order by a key set that is provably a total order
  (include a unique tiebreaker) — otherwise tie-breaking is nondeterministic.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from cassandra_sql_spark.io import register
from cassandra_sql_spark.sqlfront.preprocess import preprocess


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


def sql_q(sql: str, tables: tuple[str, ...], oracle: str | None = "same") -> Q:
    """A query expressed as Spark SQL over the registered testdata views.

    ``oracle="same"`` (the default) reuses the identical SQL string for the
    DuckDB oracle — the bulk of the surface is ANSI SQL both engines parse.
    Pass an explicit string where dialects diverge, or None for rows-only.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register(spark, sf_dir, *tables)
        return spark.sql(sql)

    return Q(fn, sql if oracle == "same" else oracle)


def df_q(
    fn: Callable[[SparkSession, str], DataFrame],
    tables: tuple[str, ...],
    oracle: str | None,
) -> Q:
    """A query expressed through the DataFrame API (still Catalyst-planned)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        register(spark, sf_dir, *tables)
        return fn(spark, sf_dir)

    return Q(wrapped, oracle)


def pg_q(sql: str, tables: tuple[str, ...], oracle: str) -> Q:
    """A query whose Spark side goes THROUGH ``preprocess`` — the graded
    entry covers the rewrite, not just the hand-rewritten output."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register(spark, sf_dir, *tables)
        return spark.sql(preprocess(sql))

    return Q(fn, oracle)


# Shared SQL fragments -------------------------------------------------------
#
# Deterministic double aggregation: scale to integer units, sum BIGINTs
# (exact, order-independent, stays in whole-stage codegen — ~6x faster than
# a DECIMAL-typed sum), divide back to double. Bounds: |x|*10^s < 2^53 per
# value and the scaled sum < 2^63 — holds with huge margin at the verify
# scale factors (and any per-group money sum short of 10^12).

def dsum(col: str, alias: str, scale: int = 2) -> str:
    """Order-independent, engine-independent sum of a double column.

    FLOOR(x*s + 0.5) (round-half-toward-+inf) rather than ROUND: Spark's
    ROUND(double) allocates a BigDecimal per row (~2x aggregate cost),
    while FLOOR is plain Math.floor — and both engines evaluate it
    identically on the same IEEE product."""
    s = 10 ** scale
    return (
        f"CAST(SUM(CAST(FLOOR(({col}) * {s} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {s} AS {alias}"
    )


def davg(col: str, alias: str, scale: int = 2) -> str:
    """Deterministic average: exact scaled-integer sum, double division."""
    s = 10 ** scale
    return (
        f"CAST(SUM(CAST(FLOOR(({col}) * {s} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {s} / COUNT({col}) AS {alias}"
    )


def isum(col: str, alias: str) -> str:
    return f"CAST(SUM({col}) AS BIGINT) AS {alias}"


DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def int_l2(a: str, b: str, dim: int = 64) -> str:
    """Exact int64 squared L2 between two DuckDB integer lists."""
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
        f" for i in range(1, {dim + 1})])"
    )


def kmeans_iter(
    t: int, p: str = "", ename: str = "e", dim: int = 64
) -> str:
    """One unrolled exact-integer Lloyd iteration as CTEs. ``p`` prefixes
    every CTE name so several trainers (e.g. PQ subspaces) can coexist
    in one WITH chain; ``ename``/``dim`` select the quantized frame."""
    prev, cur = f"{p}c{t}", f"{p}c{t + 1}"
    return f"""
{p}a{t} AS (
  SELECT vec_id, xq, cid FROM (
    SELECT {ename}.vec_id, {ename}.xq, {prev}.cid,
           ROW_NUMBER() OVER (PARTITION BY {ename}.vec_id
               ORDER BY {int_l2(f'{ename}.xq', f'{prev}.c', dim)},
                        {prev}.cid) AS rk
    FROM {ename}, {prev}
  ) WHERE rk = 1
), {p}u{t} AS (
  SELECT cid, i, SUM(x) AS s, COUNT(*) AS n FROM (
    SELECT cid, UNNEST(xq) AS x, generate_subscripts(xq, 1) AS i
    FROM {p}a{t}
  ) GROUP BY cid, i
), {p}nc{t} AS (
  -- round-half-up of the exact rational mean via true floor division:
  -- floor((2s+n)/(2n)) spelled (a - pmod(a, b)) / b in integers
  SELECT cid, list(CAST((2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n)))
                        / (2*n) AS BIGINT) ORDER BY i) AS c
  FROM {p}u{t} GROUP BY cid
), {cur} AS (
  SELECT {prev}.cid, COALESCE({p}nc{t}.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN {p}nc{t} ON {prev}.cid = {p}nc{t}.cid
)"""


def kmeans_seed_cte(
    p: str = "", ename: str = "e", k: int = 8
) -> str:
    return f"""{p}c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, xq AS c
  FROM {ename} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)"""


# Shared trainer CTE chain: quantized vectors -> md5 seeds -> three
# unrolled exact-integer Lloyd iterations -> final centroids c3. Reused
# by emb_kmeans_clusters (raw quantization) and by sim_ivf_topk's
# oracle (queries/similarity.py; unit quantization — see
# similarity.quantized_vectors for why the unit projection is bit-exact),
# which extends it with probe + scoring.
E_RAW = """e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
)"""

E_UNIT = """e AS (
  SELECT vec_id,
         list_transform(xq0, a -> CAST(FLOOR(CAST(a AS DOUBLE) * 1000000
             / GREATEST(sqrt(CAST(list_sum(list_transform(xq0, t -> t * t))
                                  AS DOUBLE)), 1.0) + 0.5) AS BIGINT)) AS xq
  FROM (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
               x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS xq0
    FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
  )
)"""


def kmeans_ctes(unit: bool = False) -> str:
    e = E_UNIT if unit else E_RAW
    return (
        f"\nWITH {e}, {kmeans_seed_cte()},"
        f"{kmeans_iter(0)},{kmeans_iter(1)},{kmeans_iter(2)}"
    )


DAILY_PURCHASE_REVENUE = """
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
        GROUP BY CAST(ts AS DATE)
"""

# The page id of an event (props.$.k), shared by the page-transition
# graph entries and the page heavy-hitter sketches. The json extraction
# is the only dialect split.
PAGE_K_SPARK = "TRY_CAST(get_json_object(props, '$.k') AS BIGINT)"

PAGE_K_DUCK = (
    "TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)"
    " THEN JSON_EXTRACT_STRING(props, '$.k') END AS BIGINT)"
)

DAILY_REVENUE_WHOLE = """
  SELECT CAST(ts AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
              + 0.5) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY CAST(ts AS DATE)
"""


def lorenz_ctes(v: str, x: str, ranked: str) -> str:
    """The Gini CTEs over the non-negative column ``x`` of view ``v``:
    ``s`` (n, s1 = SUM(x)), ``r`` (the query ``ranked``, every row's
    ``x`` with its ascending rank ``i``), ``t`` and ``lz`` (the Lorenz
    term sum sq = sum((i/n)*(x_i/S)), each term two correctly-rounded
    divisions and one multiply of exact integers, quantized onto the
    1e-15 grid, so the sum is permutation-invariant and at most
    1e15 + n/2 at any n). ``LORENZ_GINI`` reads G off s and lz."""
    return f"""s AS (
  SELECT COUNT(*) AS n, SUM({x}) AS s1 FROM {v}
), r AS (
  {ranked}
), t AS (
  SELECT CAST(FLOOR(
           (CAST(r.i AS DOUBLE) / s.n)
           * (CAST(r.{x} AS DOUBLE) / CAST(s.s1 AS DOUBLE))
           * 1e15 + 0.5) AS BIGINT) AS q
  FROM r CROSS JOIN s
), lz AS (
  SELECT SUM(q) AS sq FROM t
)"""


LORENZ_GINI = "2.0 * (CAST(lz.sq AS DOUBLE) / 1e15) - (s.n + 1.0) / s.n"

# CUSUM changepoint per event type over a day table ``daily`` (event_type,
# d, x): the day where |sum of n*x - sum(x)| over the days so far peaks,
# on exact integers until the one division.
CUSUM_TAIL = """
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx
  FROM daily GROUP BY event_type
), cus AS (
  SELECT daily.event_type, d,
         SUM(tot.n * x - tot.sx) OVER (
             PARTITION BY daily.event_type ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c_scaled,
         tot.n AS n
  FROM daily JOIN tot ON daily.event_type = tot.event_type
), ranked AS (
  SELECT event_type, d, c_scaled, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(c_scaled) DESC, d) AS rk
  FROM cus
)
SELECT event_type, d AS changepoint_day,
       CAST(ABS(c_scaled) AS DOUBLE) / CAST(n AS DOUBLE) AS max_cusum
FROM ranked WHERE rk = 1 ORDER BY event_type
"""

# CUSUM_TAIL over the event log's daily counts per event type.
CUSUM_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), """ + CUSUM_TAIL
