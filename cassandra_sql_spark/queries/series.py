"""Time-series operators over daily revenue and price series
(``series_*``): calendar fill and interpolation, resampling, moving
statistics, change points, autocorrelation, seasonality, drawdown.

Series are day-keyed rollups of the event log or of TPC-H orders, so
every window runs over a bounded calendar domain; money is summed on
the cent grid before any double arithmetic.
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import (
    CUSUM_CHANGEPOINT,
    DAILY_PURCHASE_REVENUE,
    DAILY_REVENUE_WHOLE,
    Q,
    df_q,
    sql_q,
)


# Linear interpolation over a fixed daily spine (all SF fixtures share
# the 2024-01 window; k=7 purchases cover ~half the days at sf0.01 so
# both interior interpolation and edge carry are exercised).
def _interp_sql(tok_extract: str, days_frac: str, duck: bool) -> str:
    # IGNORE NULLS placement is the dialect split: Spark puts it after
    # the call (`LAST_VALUE(x) IGNORE NULLS OVER`), DuckDB inside the
    # parens (`LAST_VALUE(x IGNORE NULLS) OVER`).
    back = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    fwd = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"

    def win(kind: str, expr: str, frame: str) -> str:
        if duck:
            return f"{kind}({expr} IGNORE NULLS) OVER (ORDER BY day {frame})"
        return f"{kind}({expr}) IGNORE NULLS OVER (ORDER BY day {frame})"

    day_if = "CASE WHEN total IS NOT NULL THEN day END"
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100 AS total
  FROM events
  WHERE event_type = 'purchase' AND {tok_extract} = '7'
  GROUP BY CAST(ts AS DATE)
),
spine AS ({{spine}}),
joined AS (
  SELECT s.day, d.total FROM spine s LEFT JOIN daily d ON s.day = d.day
),
bounds AS (
  SELECT day, total,
         {win("LAST_VALUE", "total", back)} AS prev_val,
         {win("LAST_VALUE", day_if, back)} AS prev_day,
         {win("FIRST_VALUE", "total", fwd)} AS next_val,
         {win("FIRST_VALUE", day_if, fwd)} AS next_day
  FROM joined
)
SELECT day,
       total IS NOT NULL AS observed,
       CAST(CAST(FLOOR(
         CASE WHEN total IS NOT NULL THEN total
              WHEN prev_val IS NULL THEN next_val
              WHEN next_val IS NULL THEN prev_val
              ELSE prev_val + (next_val - prev_val) * ({days_frac})
         END * 10000 + 0.5) AS BIGINT) AS DOUBLE) / 10000 AS filled
FROM bounds
ORDER BY day
"""


_INTERP_SPARK = _interp_sql(
    "GET_JSON_OBJECT(props, '$.k')",
    "CAST(DATEDIFF(day, prev_day) AS DOUBLE)"
    " / DATEDIFF(next_day, prev_day)",
    duck=False,
).format(
    spine="SELECT EXPLODE(SEQUENCE(DATE '2024-01-01', DATE '2024-01-30'))"
    " AS day"
)

_INTERP_DUCK = _interp_sql(
    "CASE WHEN props IS NOT NULL AND json_valid(props)"
    " THEN JSON_EXTRACT_STRING(props, '$.k') END",
    "CAST(DATEDIFF('day', prev_day, day) AS DOUBLE)"
    " / DATEDIFF('day', prev_day, next_day)",
    duck=True,
).format(
    spine="SELECT CAST(gs.day AS DATE) AS day FROM generate_series("
    "DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) AS gs(day)"
)

_GAPS_ISLANDS = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL
), k AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM act
), runs AS (
  SELECT user_id, MIN(d) AS run_start, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM (SELECT user_id, d, DATEDIFF({args}) - rn AS grp FROM k) g
  GROUP BY user_id, grp
), best AS (
  SELECT user_id, run_start, run_len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY run_len DESC, run_start) AS rk
  FROM runs
)
SELECT user_id, run_start AS longest_run_start, run_len AS longest_run_days
FROM best WHERE rk = 1 ORDER BY user_id
"""

# Weekday seasonal index of the event series: weekday via epoch-day
# mod 7 against the Monday anchor (EXTRACT(DOW) numbering differs
# between engines), index = weekday-mean / overall-mean via exact
# integer cross-products.
_SEASONAL_BODY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
wd AS (SELECT CAST({dd} AS BIGINT) % 7 AS weekday, n FROM daily),
per AS (
  SELECT weekday, CAST(COUNT(*) AS BIGINT) AS nw,
         CAST(SUM(n) AS BIGINT) AS sw
  FROM wd GROUP BY weekday
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(n) AS BIGINT) AS st
  FROM wd
)
SELECT weekday, nw AS n_days,
       CAST(sw AS DOUBLE) / nw AS mean_count,
       CAST(sw * tot.nt AS DOUBLE) / CAST(per.nw * tot.st AS DOUBLE)
         AS seasonal_index
FROM per, tot ORDER BY weekday
"""

# Monthly revenue with month-over-month and year-over-year growth on
# the orders table (it spans 1992-1998; events span one month). Exact
# integer cents through both LAGs; growth ratios are single double
# divisions of exact ints. Integer y*12+m month keys (the date_trunc
# dialect trap avoided).
_REVENUE_MOM_YOY = """
WITH m AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_c
  FROM orders
  WHERE o_orderdate IS NOT NULL
  GROUP BY EXTRACT(YEAR FROM o_orderdate) * 12
           + EXTRACT(MONTH FROM o_orderdate)
),
l AS (
  SELECT mkey, rev_c,
         LAG(rev_c, 1) OVER (ORDER BY mkey) AS prev_m,
         LAG(rev_c, 12) OVER (ORDER BY mkey) AS prev_y
  FROM m
)
SELECT mkey AS month_key,
       CAST(rev_c AS DOUBLE) / 100 AS revenue,
       CAST(rev_c - prev_m AS DOUBLE) / prev_m AS mom_growth,
       CAST(rev_c - prev_y AS DOUBLE) / prev_y AS yoy_growth
FROM l ORDER BY month_key
"""

# Local maxima of the daily series (strict peaks) — the alerting
# primitive under every monitoring dashboard. ANSI, same-string.
_PEAKS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
l AS (
  SELECT d, n,
         LAG(n) OVER (ORDER BY d) AS pn,
         LEAD(n) OVER (ORDER BY d) AS nn
  FROM daily
)
SELECT d AS peak_day, n AS n_events
FROM l
WHERE pn IS NOT NULL AND nn IS NOT NULL AND n > pn AND n > nn
ORDER BY peak_day
"""

# -- Bollinger bands ---------------------------------------------------------
# 7-day trailing mean +- 2 sigma on total daily revenue, with breakout
# flags — the volatility-band monitor over the same daily-dollar grid
# as Durbin-Watson (dollar quantization keeps the windowed sum of
# squares exact in int64 through sf100; cent squares would overflow at
# sf10). The window is ROWS-framed over the day domain — at most |days|
# rows reach the single ORDER BY day partition, never the event log
# (the daily CTE reduces first), so the unpartitioned window input is
# domain-bounded, the documented exception the plan pins allow.
_BOLLINGER_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
              + 0.5) AS BIGINT) AS d
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY CAST(ts AS DATE)
), w AS (
  SELECT day, d,
         COUNT(*) OVER win AS k,
         SUM(d) OVER win AS s1,
         SUM(d * d) OVER win AS s2
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), b AS (
  SELECT day, d, k, CAST(s1 AS DOUBLE) / k AS mid,
         SQRT(CAST(s2 AS DOUBLE) / k
              - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k))
           AS sigma
  FROM w
), sn AS (
  -- snap the bands FIRST, then derive is_breakout from the snapped
  -- values: comparing against the unsnapped mid +- 2*sigma doubles
  -- would let a revenue value within an ulp of the band edge flip the
  -- boolean on one engine only (the FMA/codegen hazard the JB comment
  -- documents), and a boolean has no snap to absorb it
  SELECT day, d, k,
         CAST(CAST(mid AS DECIMAL(18,6)) AS DOUBLE) AS bb_mid,
         CAST(CAST(mid + 2 * sigma AS DECIMAL(18,6)) AS DOUBLE) AS bb_upper,
         CAST(CAST(mid - 2 * sigma AS DECIMAL(18,6)) AS DOUBLE) AS bb_lower
  FROM b
)
SELECT day, d AS revenue_usd, CAST(k AS BIGINT) AS bb_n,
       bb_mid, bb_upper, bb_lower,
       d > bb_upper OR d < bb_lower AS is_breakout
FROM sn ORDER BY day
"""

# -- Theil's U2 forecast-quality ratio ---------------------------------------
# Is a 7-day trailing-mean forecast better than naive persistence? U2 =
# sqrt(sum(((f_t - a_t)/a_{t-1})^2) / sum(((a_t - a_{t-1})/a_{t-1})^2))
# per event_type on daily-dollar revenue; U2 < 1 means the moving
# average beats carrying yesterday forward. Both error terms are
# double ratios of exact integers (and f_t is one division of exact
# window sums), quantized onto a 1e-12 grid per term so the cross-term
# sums are exact-integer and order-free; windows are day-domain-bounded
# per type.
_THEIL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
              + 0.5) AS BIGINT) AS a
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), w AS (
  SELECT event_type, day, a,
         LAG(a) OVER (PARTITION BY event_type ORDER BY day) AS pa,
         COUNT(*) OVER win AS k,
         SUM(a) OVER win AS s1
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), t AS (
  SELECT event_type,
         CAST(FLOOR(
           ((CAST(s1 AS DOUBLE) / k - a) / pa)
             * ((CAST(s1 AS DOUBLE) / k - a) / pa) * 1e12 + 0.5)
           AS BIGINT) AS fq,
         CAST(FLOOR(
           ((CAST(a - pa AS DOUBLE)) / pa)
             * ((CAST(a - pa AS DOUBLE)) / pa) * 1e12 + 0.5)
           AS BIGINT) AS nq
  FROM w WHERE pa IS NOT NULL AND pa > 0 AND k > 0
), agg AS (
  SELECT event_type, COUNT(*) AS n_terms, SUM(fq) AS sf, SUM(nq) AS sn
  FROM t GROUP BY event_type
)
SELECT event_type, CAST(n_terms AS BIGINT) AS n_terms,
       CAST(CAST(SQRT(CAST(sf AS DOUBLE) / CAST(sn AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS theil_u2
-- a perfectly persistent series (naive error 0, exact) has no defined
-- U2 ratio; excluded identically on both engines
FROM agg WHERE sn > 0 ORDER BY event_type
"""

# -- Seasonal strength --------------------------------------------------------
# How much of the daily-revenue variance does the weekday cycle
# explain? F = max(0, 1 - Var(residual)/Var(total)) per event_type,
# where the seasonal component is the type's weekday mean. Total
# variance comes from exact integer power sums on the daily-dollar
# grid; residuals (dollars minus a weekday mean) are identical doubles
# on both engines (one division of exact ints), and their squares land
# on the whole-unit grid before the exact sum — integer dollar^2
# resolution, overflow-safe past sf100. Windows/aggregates all run over
# the day domain.
_SEASONAL_STRENGTH_BODY = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
              + 0.5) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), ws AS (
  -- one window pass: the groupBy+join-back form re-scanned the event
  -- log once per CTE reference (3 scans); every window is keyed by
  -- (type) or (type, weekday)
  SELECT event_type, r,
         SUM(r) OVER (PARTITION BY event_type, {dow}) AS srw,
         COUNT(*) OVER (PARTITION BY event_type, {dow}) AS crw,
         SUM(r) OVER (PARTITION BY event_type) AS s1,
         SUM(r * r) OVER (PARTITION BY event_type) AS s2,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), res AS (
  SELECT event_type, n, s1, s2,
         CAST(FLOOR(
           (r - CAST(srw AS DOUBLE) / crw)
             * (r - CAST(srw AS DOUBLE) / crw) + 0.5) AS BIGINT) AS q
  FROM ws
), ragg AS (
  SELECT event_type, MAX(n) AS n, MAX(s1) AS s1, MAX(s2) AS s2,
         SUM(q) AS sq
  FROM res GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(CAST(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n)
                   * (CAST(s1 AS DOUBLE) / n)
            AS DECIMAL(18,6)) AS DOUBLE) AS var_total,
       CAST(CAST(CAST(sq AS DOUBLE) / n AS DECIMAL(18,6)) AS DOUBLE)
         AS var_residual,
       CAST(CAST(
         CASE WHEN CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n) <= 0 THEN 0
              ELSE GREATEST(0.0, 1 - (CAST(sq AS DOUBLE) / n)
                / (CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)))
         END AS DECIMAL(18,6)) AS DOUBLE) AS seasonal_strength
FROM ragg
ORDER BY event_type
"""

_SEASONAL_SPARK = _SEASONAL_STRENGTH_BODY.format(dow="dayofweek(day)")

_SEASONAL_DUCK = _SEASONAL_STRENGTH_BODY.format(
    dow="CAST(extract(dow FROM day) AS INTEGER)"
)

# -- Lead-lag cross-correlation -----------------------------------------------
# Does click volume LEAD purchase revenue? Pearson r between daily
# click counts and purchase dollars at lags -1/0/+1 — the
# cause-precedes-effect screen before anyone fits an attribution
# model. The raw-sum Pearson spelling (n*syy - sy*sy) overflows int64
# near sf10 on daily purchase DOLLARS (~1.6e7/day -> n*syy ~ 3e20), so
# the moments are computed on n-scaled integer DEVIATIONS (the
# stat_durbin_watson trick): x*n - sx is an exact BIGINT, one
# correctly-rounded double division by n, FLOOR to the unit grid, and
# every power sum below is an exact order-free integer. Largest sum is
# n*ayy ~ 1.2e18 at sf10 (deviations, not raw values, get squared);
# the documented sf100 path swaps the unit grid for a 10-dollar one.
# The residual quantization mean (|zbar| <= 0.5) is folded back via the
# central-moment form, mirroring the JB entry. Windows run over the
# checkpointed day-domain table (one fact scan at build; the tail's two
# passes read the ExistingRDD).
_XCORR_DAILY = """
  SELECT day, c, CAST(FLOOR(pc / 100.0 + 0.5) AS BIGINT) AS pd
  FROM (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS pc
    FROM events WHERE ts IS NOT NULL
    GROUP BY CAST(ts AS DATE)
  ) d
"""

_XCORR_TAIL = """
WITH l AS (
  SELECT c,
         LAG(pd, 1) OVER (ORDER BY day) AS pm1,
         pd AS p0,
         LEAD(pd, 1) OVER (ORDER BY day) AS pp1
  FROM {v}
), lags AS (
  SELECT -1 AS lg UNION ALL SELECT 0 AS lg UNION ALL SELECT 1 AS lg
), pairs AS (
  -- one pass: a 3-row lag dimension fans each day out, instead of a
  -- 3-branch UNION ALL that re-scans the day table per branch
  SELECT lags.lg, l.c AS x,
         CASE lags.lg WHEN -1 THEN l.pm1 WHEN 0 THEN l.p0
              ELSE l.pp1 END AS y
  FROM l CROSS JOIN lags
), s1 AS (
  SELECT lg, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
  FROM pairs WHERE y IS NOT NULL GROUP BY lg
), z AS (
  SELECT p.lg,
         CAST(FLOOR((p.x * s1.n - s1.sx) / (1.0 * s1.n) + 0.5)
              AS BIGINT) AS zx,
         CAST(FLOOR((p.y * s1.n - s1.sy) / (1.0 * s1.n) + 0.5)
              AS BIGINT) AS zy
  FROM pairs p JOIN s1 ON p.lg = s1.lg
  WHERE p.y IS NOT NULL
), s2 AS (
  SELECT lg, COUNT(*) AS n, SUM(zx) AS ax, SUM(zy) AS ay,
         SUM(zx * zy) AS axy, SUM(zx * zx) AS axx, SUM(zy * zy) AS ayy
  FROM z GROUP BY lg
)
SELECT CAST(lg AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       -- zero QUANTIZED variance on either side (exact integer test,
       -- catches both the all-equal case and sub-grid wiggle) leaves
       -- the correlation undefined at this grid: NULL, not a 0/0
       CASE WHEN n * axx = ax * ax OR n * ayy = ay * ay
            THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              (CAST(axy AS DOUBLE) / n
                 - (CAST(ax AS DOUBLE) / n) * (CAST(ay AS DOUBLE) / n))
              / (SQRT(CAST(axx AS DOUBLE) / n
                      - (CAST(ax AS DOUBLE) / n)
                        * (CAST(ax AS DOUBLE) / n))
                 * SQRT(CAST(ayy AS DOUBLE) / n
                        - (CAST(ay AS DOUBLE) / n)
                          * (CAST(ay AS DOUBLE) / n)))
              AS DECIMAL(18,6)) AS DOUBLE)
       END AS xcorr
FROM s2 ORDER BY lag
"""


def _xcorr(spark, sf):
    """Day-domain table checkpointed once: the two-pass deviation dance
    (means, then central moments) references it repeatedly and CTE
    inlining would re-scan the event log per reference."""
    daily = spark.sql(_XCORR_DAILY).localCheckpoint(eager=True)
    daily.createOrReplaceTempView("xcorr_daily")
    return spark.sql(_XCORR_TAIL.format(v="xcorr_daily"))


_XCORR_DUCK = (
    "WITH xd AS ("
    + _XCORR_DAILY
    + "), "
    + _XCORR_TAIL.format(v="xd").replace("WITH ", "", 1)
)

# -- Max drawdown of daily revenue --------------------------------------------
# Worst drop from the running daily-revenue peak, with the trough day
# (min-day tiebreak) — the volatility panel next to Bollinger. Running
# max + difference are exact integers over the day domain; the argmax
# is an ORDER BY/LIMIT over the checkpointed day table.
_DRAWDOWN_TAIL = """
WITH dd AS (
  SELECT day, r, MAX(r) OVER (ORDER BY day) AS peak FROM {v}
), mx AS (
  SELECT MAX(peak - r) AS maxdd, COUNT(*) AS n FROM dd
), pick AS (
  SELECT dd.day AS trough_day, dd.r AS trough_revenue,
         dd.peak AS peak_revenue
  FROM dd CROSS JOIN mx WHERE dd.peak - dd.r = mx.maxdd
  ORDER BY dd.day LIMIT 1
)
SELECT CAST(mx.n AS BIGINT) AS n_days,
       CAST(mx.maxdd AS BIGINT) AS max_drawdown_usd,
       pick.trough_day,
       CAST(pick.trough_revenue AS BIGINT) AS trough_revenue,
       CAST(pick.peak_revenue AS BIGINT) AS peak_revenue
FROM mx CROSS JOIN pick
"""


def _drawdown(spark, sf):
    daily = spark.sql(DAILY_REVENUE_WHOLE).localCheckpoint(eager=True)
    daily.createOrReplaceTempView("ddown_daily")
    return spark.sql(_DRAWDOWN_TAIL.format(v="ddown_daily"))


_DRAWDOWN_DUCK = (
    "WITH dd0 AS ("
    + DAILY_REVENUE_WHOLE
    + "), "
    + _DRAWDOWN_TAIL.format(v="dd0").replace("WITH ", "", 1)
)

QUERIES: dict[str, Q] = {
    # Period-over-period change (the daily-revenue pct_change report):
    # exact scaled-integer daily totals, LAG ratio with a NULLIF guard
    # (a zero-revenue day must yield NULL, not an ANSI divide error).
    # One aggregation + one window over |days| rows. NULL-ts rows are
    # excluded: a date series has no NULL bucket, and the engines order
    # NULLs on opposite ends of the LAG window (adversarial net).
    "series_pct_change": sql_q(
        """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100 AS revenue
          FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY CAST(ts AS DATE)
        )
        SELECT day, revenue,
               CAST(CAST(
                 (revenue - LAG(revenue) OVER (ORDER BY day))
                 / NULLIF(LAG(revenue) OVER (ORDER BY day), 0)
               AS DECIMAL(18,6)) AS DOUBLE) AS pct_change
        FROM daily
        """,
        ("events",),
    ),
    # generate_series (pg table function) re-expressed as
    # explode(sequence(...)): the calendar spine every reporting join
    # starts from — here left-joined to daily order counts so missing
    # days surface as zeros.
    "series_calendar_fill": sql_q(
        """
        SELECT d.day, COALESCE(o.n, CAST(0 AS BIGINT)) AS n_orders
        FROM (
          SELECT EXPLODE(SEQUENCE(DATE '1995-03-01', DATE '1995-03-31')) AS day
        ) d
        LEFT JOIN (
          SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
          FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ) o ON d.day = o.day
        ORDER BY d.day
        """,
        ("orders",),
        oracle="""
        SELECT CAST(gs.day AS DATE) AS day,
               COALESCE(o.n, CAST(0 AS BIGINT)) AS n_orders
        FROM generate_series(DATE '1995-03-01', DATE '1995-03-31',
                             INTERVAL 1 DAY) AS gs(day)
        LEFT JOIN (
          SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
          FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ) o ON CAST(gs.day AS DATE) = o.day
        ORDER BY day
        """,
    ),
    # Regular-grid resample: daily purchase totals for one page, gaps
    # linearly interpolated between nearest observed neighbors, edges
    # carried from the nearest observation.
    "series_gap_fill_interp": sql_q(
        _INTERP_SPARK,
        ("events",),
        oracle=_INTERP_DUCK,
    ),
    # OHLC downsampling (candlestick resample): per day x event type,
    # open/close via min_by/max_by on the (unique) event timestamp,
    # low/high as plain MIN/MAX, volume as the exact scaled-integer sum.
    # One hash aggregate with map-side partials — min_by/max_by partials
    # carry a single (value, ts) pair per group per partition, so the
    # shuffle is |days x types| rows regardless of event count.
    "series_resample_ohlc": sql_q(
        """
        SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day, event_type,
               min_by(value, ts) AS open,
               max_by(value, ts) AS close,
               MIN(value) AS low,
               MAX(value) AS high,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS volume
        FROM events
        GROUP BY CAST(date_trunc('DAY', ts) AS DATE), event_type
        """,
        ("events",),
        oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               min_by(value, ts) AS open,
               max_by(value, ts) AS close,
               MIN(value) AS low,
               MAX(value) AS high,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS volume
        FROM events
        GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
        """,
    ),
    # Exponentially weighted moving average (pandas ewm(alpha=0.2,
    # adjust=True) semantics) over the daily purchase-revenue series,
    # with a 20-day effective memory. The per-row weights
    # 0.8^(t-i) are produced without a per-row frame rescan by the
    # standard rescaling identity: carry revenue*0.8^(-rn) in the
    # frame sum and multiply back by 0.8^rn outside it. The finite
    # normalizer has the closed form (1-0.8^n)/0.2 for the n rows in
    # the frame — no second window needed.
    "series_ewma": sql_q(
        f"""
        WITH daily AS ({DAILY_PURCHASE_REVENUE}),
        seq AS (
          SELECT day, revenue,
                 CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS rn
          FROM daily
        )
        SELECT day, revenue,
               CAST(CAST(FLOOR(
                 SUM(revenue * POWER(0.8, -rn)) OVER (
                     ORDER BY day
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                 * POWER(0.8, rn) * 0.2
                 / (1 - POWER(0.8, LEAST(rn, 20.0)))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000 AS ewma
        FROM seq
        """,
        ("events",),
    ),
    # Max drawdown per user over a signed cash-flow series (equity-curve
    # analytics): two stacked running windows — cumulative balance, then
    # running peak — then one aggregate. Money stays in exact integer
    # cents through both windows so the running sums are order-exact on
    # both engines; at 100 TB this is one shuffle on user_id and two
    # in-partition window passes.
    "series_drawdown": sql_q(
        """
        WITH cents AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN event_type IN ('purchase', 'signup')
                      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                      ELSE -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                 END AS c
          FROM events WHERE ts IS NOT NULL
        ), cum AS (
          SELECT user_id, ts, event_id,
                 SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS bal
          FROM cents
        ), pk AS (
          SELECT user_id, bal,
                 MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS peak
          FROM cum
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(peak - bal) AS DOUBLE) / 100 AS max_drawdown,
               CAST(MAX(peak) AS DOUBLE) / 100 AS peak_balance
        FROM pk GROUP BY user_id ORDER BY user_id
        """,
        ("events",),
    ),
    # Autocorrelation of the daily event-count series at lags 1 and 7
    # (seasonality detection). Pearson r from raw integer power sums —
    # counts are BIGINT, so every sum is exact and the single double
    # expression at the end is bit-identical across engines. The
    # unpartitioned LAG window runs over the DAILY reduction (|distinct
    # dates| rows — thousands even at 100 TB), never the event log; the
    # WindowExec single-partition warning is bounded by calendar size.
    "series_autocorr": sql_q(
        """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
        ), l AS (
          SELECT n,
                 LAG(n, 1) OVER (ORDER BY d) AS n1,
                 LAG(n, 7) OVER (ORDER BY d) AS n7
          FROM daily
        ), s1 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS c, SUM(n) AS sx, SUM(n1) AS sy,
                 SUM(n * n1) AS sxy, SUM(n * n) AS sxx, SUM(n1 * n1) AS syy
          FROM l WHERE n1 IS NOT NULL
        ), s7 AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS c, SUM(n) AS sx, SUM(n7) AS sy,
                 SUM(n * n7) AS sxy, SUM(n * n) AS sxx, SUM(n7 * n7) AS syy
          FROM l WHERE n7 IS NOT NULL
        )
        SELECT
          CAST(s1.c * s1.sxy - s1.sx * s1.sy AS DOUBLE)
            / (SQRT(CAST(s1.c * s1.sxx - s1.sx * s1.sx AS DOUBLE))
               * SQRT(CAST(s1.c * s1.syy - s1.sy * s1.sy AS DOUBLE)))
            AS acf_lag1,
          CAST(s7.c * s7.sxy - s7.sx * s7.sy AS DOUBLE)
            / (SQRT(CAST(s7.c * s7.sxx - s7.sx * s7.sx AS DOUBLE))
               * SQRT(CAST(s7.c * s7.syy - s7.sy * s7.sy AS DOUBLE)))
            AS acf_lag7,
          s1.c AS n_pairs_lag1,
          s7.c AS n_pairs_lag7
        FROM s1, s7
        """,
        ("events",),
    ),
    # CUSUM changepoint per event type on the daily count series: the
    # cumulative deviation from the series mean is kept in exact scaled
    # integers (sum of n*x_i - sum_x, i.e. n times the usual CUSUM), so
    # the argmax day is exact; the statistic only becomes a double in
    # the final unscaling. Windows partition by event_type; the series
    # is the daily reduction, calendar-bounded.
    "series_cusum_changepoint": sql_q(CUSUM_CHANGEPOINT, ("events",)),
    # Gaps-and-islands: each user's longest run of consecutive active
    # days via the classic date-minus-row_number grouping key. One
    # shuffle on user_id; the per-user series is the distinct-day
    # reduction, calendar-bounded.
    "series_gaps_islands": sql_q(
        _GAPS_ISLANDS.format(args="d, DATE '1970-01-01'"),
        ("events",),
        oracle=_GAPS_ISLANDS.format(args="'day', DATE '1970-01-01', d"),
    ),
    "series_revenue_mom_yoy": sql_q(_REVENUE_MOM_YOY, ("orders",)),
    "series_seasonal_naive": sql_q(
        _SEASONAL_BODY.format(dd="DATEDIFF(d, DATE'1969-12-29')"),
        ("events",),
        oracle=_SEASONAL_BODY.format(
            dd="date_diff('day', DATE '1969-12-29', d)"
        ),
    ),
    "series_peak_detection": sql_q(_PEAKS_SQL, ("events",)),
    "series_bollinger_bands": sql_q(_BOLLINGER_SQL, ("events",)),
    "series_theil_u2": sql_q(_THEIL_SQL, ("events",)),
    "series_lead_lag_xcorr": df_q(
        _xcorr, ("events",), oracle=_XCORR_DUCK
    ),
    "series_seasonal_strength": sql_q(
        _SEASONAL_SPARK, ("events",), oracle=_SEASONAL_DUCK
    ),
    "series_max_drawdown": df_q(
        _drawdown, ("events",), oracle=_DRAWDOWN_DUCK
    ),
}
