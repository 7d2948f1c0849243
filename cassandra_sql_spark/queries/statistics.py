"""Statistical tests and estimators over the event log and TPC-H
(``stat_*``): contingency and two-sample tests, rank tests, regression,
normality, autocorrelation and survival.

Each statistic is computed on an exact integer grid (power sums of
scaled integers, 2x-ranks, per-term quantization) with one
correctly-rounded division or sqrt/ln at the boundary and a DECIMAL
snap on the output, so Spark and DuckDB agree to the last digit.
"""

from __future__ import annotations

import math

from cassandra_sql_spark.queries.base import (
    DAILY_REVENUE_WHOLE,
    Q,
    df_q,
    sql_q,
)


# Benford expected first-digit probabilities, inlined as literals so
# neither engine's LOG10 (not guaranteed correctly rounded) enters the
# result — the constants are computed once here and parsed identically.
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
)

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                             AS {{strty}}), 1, 1) AS BIGINT) AS d1
  FROM orders WHERE o_totalprice > 0
), c AS (
  SELECT d1, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d1
), t AS (SELECT SUM(n) AS total FROM c)
SELECT d1, n,
       CAST(n AS DOUBLE) / CAST(t.total AS DOUBLE) AS observed_p,
       CAST(CASE d1 {_BENFORD_CASE} END AS DOUBLE) AS benford_p
FROM c, t ORDER BY d1
"""

# Kendall tau-b over the daily event-count series: x = calendar day
# (distinct, so no x-ties), y = count. Concordance/discordance from the
# pairwise join over the DAILY reduction (bounded by calendar size,
# like series_autocorr); tie correction n2 = sum t(t-1)/2 over tied
# counts. Every term is an exact int64; the one sqrt has an
# exactly-representable product radicand (n0 < 2^26 at any horizon).
_KENDALL_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
pairs AS (
  SELECT CASE WHEN b.n > a.n THEN 1
              WHEN b.n < a.n THEN -1 ELSE 0 END AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
agg AS (
  SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS dd,
         CAST(COUNT(*) AS BIGINT) AS n0
  FROM pairs
),
ties AS (
  SELECT CAST(COALESCE(CAST(FLOOR(SUM(t * (t - 1)) / 2) AS BIGINT), 0)
              AS BIGINT) AS n2
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY n) g
  WHERE t > 1
)
SELECT agg.n0 AS n_pairs, agg.c AS concordant, agg.dd AS discordant,
       ties.n2 AS y_tie_pairs,
       CAST(agg.c - agg.dd AS DOUBLE)
         / SQRT(CAST(agg.n0 AS DOUBLE) * CAST(agg.n0 - ties.n2 AS DOUBLE))
         AS tau_b
FROM agg, ties
"""

# Theil-Sen robust trend: the median of all pairwise slopes of the
# daily series. Slopes stay (dy BIGINT, dx BIGINT) pairs; ordering is
# by the IEEE quotient (exact int operands -> identical on both
# engines) with (dy, dx) tie-breaks for a deterministic total order;
# the median is the lower-middle order statistic (no averaging).
_THEIL_SEN_BODY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
slopes AS (
  SELECT b.n - a.n AS dy, CAST({dd} AS BIGINT) AS dx
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT dy, dx, CAST(dy AS DOUBLE) / dx AS slope,
         ROW_NUMBER() OVER (
           ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rn,
         COUNT(*) OVER () AS m
  FROM slopes
)
SELECT CAST(m AS BIGINT) AS n_pairs, CAST(dy AS BIGINT) AS med_dy,
       CAST(dx AS BIGINT) AS med_dx, slope AS theil_sen_slope
FROM ranked WHERE rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
"""

# OLS trend per event type from integer power sums: x = days since
# 2024-01-01 (centered anchor keeps every sum far inside int64), y =
# daily count. slope/intercept/r^2 are the closed forms over exact
# integer sums; r^2 squares in double (operands < 2^53, so the products
# are correctly rounded identically on both engines).
_OLS_BODY = """
WITH daily0 AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
),
daily AS (
  SELECT event_type, CAST({dd} AS BIGINT) AS x, y FROM daily0
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY event_type
)
SELECT event_type, n AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       (CAST(n * sxy - sx * sy AS DOUBLE)
        * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM s
WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
ORDER BY event_type
"""

# Kruskal-Wallis H across event types over exact integer cents.
# Doubled midranks (2*cum_before + cnt + 1) are exact ints; centering
# by the mean doubled rank (N+1) keeps per-group sums small enough
# that their squares are exact in double (|Sg| < 2^40 at any realistic
# N). H = 3/(N(N+1)) * sum Sg^2/ng over doubled centered ranks; the
# tie correction divides by 1 - sum(t^3 - t)/(N^3 - N).
_KRUSKAL_SQL = """
WITH v AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
dist AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY c
),
mr AS (
  SELECT c, t,
         2 * (SUM(t) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) + t + 1
           AS dr2
  FROM dist
),
mr0 AS (
  SELECT c, t, COALESCE(dr2, t + 1) AS dr FROM mr
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
g AS (
  SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(mr0.dr - (n.n + 1)) AS BIGINT) AS sg
  FROM v JOIN mr0 ON v.c = mr0.c CROSS JOIN n
  GROUP BY v.event_type
),
h AS (
  SELECT CAST(SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
               / CAST(ng AS DOUBLE)) AS DOUBLE) AS ssq,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
tie AS (
  SELECT CAST(SUM(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
               - CAST(t AS DOUBLE)) AS DOUBLE) AS tsum
  FROM dist WHERE t > 1
)
SELECT n.n AS n_obs, h.k AS n_groups,
       -- DECIMAL(18,6) snap: ssq is a 5-term double SUM whose
       -- accumulation order differs between engines; at sf10 the
       -- last-ulp drift crossed the 9-sig-digit hash boundary
       -- (caught by the round-10 sf10 gate — invisible at sf0.01)
       CAST(CAST(
         3.0 / (CAST(n.n AS DOUBLE) * CAST(n.n + 1 AS DOUBLE)) * h.ssq
         AS DECIMAL(18,6)) AS DOUBLE) AS h_stat,
       CAST(CAST(
         (3.0 / (CAST(n.n AS DOUBLE) * CAST(n.n + 1 AS DOUBLE)) * h.ssq)
         / (1.0 - COALESCE(tie.tsum, 0.0)
              / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE)
                 * CAST(n.n AS DOUBLE) - CAST(n.n AS DOUBLE)))
         AS DECIMAL(18,6)) AS DOUBLE) AS h_tie_corrected
FROM n, h, tie
"""

# -- one-way ANOVA across weekday groups ---------------------------------
# Integer power sums per weekday (pivoted to fixed columns via MAX CASE
# over at most 7 rows); SST's pieces are integer sums (associative, SUM
# is safe); only the 7 SSB terms are doubles, combined left-to-right.

_WD = list(range(7))


def _anova_sql(dd: str) -> str:
    piv = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN weekday = {w} THEN {c} END), 0) AS {c}{w}"
        for w in _WD
        for c in ("nw", "sw", "qw")
    )
    ssb_terms = " + ".join(
        f"(CASE WHEN nw{w} > 0 THEN CAST(sw{w} AS DOUBLE)"
        f" * CAST(sw{w} AS DOUBLE) / CAST(nw{w} AS DOUBLE)"
        f" ELSE 0.0 END)"
        for w in _WD
    )
    k_eff = " + ".join(f"(CASE WHEN nw{w} > 0 THEN 1 ELSE 0 END)"
                       for w in _WD)
    n_tot = " + ".join(f"nw{w}" for w in _WD)
    s_tot = " + ".join(f"sw{w}" for w in _WD)
    q_tot = " + ".join(f"qw{w}" for w in _WD)
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
wd AS (
  SELECT CAST({dd} AS BIGINT) % 7 AS weekday, y FROM daily
),
g AS (
  SELECT weekday, CAST(COUNT(*) AS BIGINT) AS nw,
         CAST(SUM(y) AS BIGINT) AS sw, CAST(SUM(y * y) AS BIGINT) AS qw
  FROM wd GROUP BY weekday
),
p AS (
  SELECT {piv}
  FROM g
),
c AS (
  SELECT CAST({n_tot} AS BIGINT) AS n, CAST({s_tot} AS BIGINT) AS s,
         CAST({q_tot} AS BIGINT) AS q, CAST({k_eff} AS BIGINT) AS k,
         ({ssb_terms}) AS ssb_raw
  FROM p
)
SELECT n AS n_days, k AS n_groups,
       ssb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
         AS ss_between,
       CAST(q AS DOUBLE)
         - ssb_raw AS ss_within,
       ((ssb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          / CAST(k - 1 AS DOUBLE))
         / ((CAST(q AS DOUBLE) - ssb_raw) / CAST(n - k AS DOUBLE))
         AS f_stat
FROM c
WHERE k >= 2 AND n > k AND CAST(q AS DOUBLE) - ssb_raw > 0
"""


# -- Wilcoxon signed-rank on paired user spend ----------------------------
def _wilcoxon_sql(dd: str) -> str:
    return f"""
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
ed AS (SELECT user_id, CAST({dd} AS BIGINT) AS ed, c FROM base),
rng AS (
  SELECT CAST(FLOOR((MIN(ed) + MAX(ed)) / 2.0) AS BIGINT) AS mid FROM ed
),
pu AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ed <= rng.mid THEN c ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(SUM(CASE WHEN ed > rng.mid THEN c ELSE 0 END) AS BIGINT)
           AS c2
  FROM ed, rng GROUP BY user_id
),
dif AS (SELECT c2 - c1 AS dd FROM pu WHERE c2 - c1 <> 0),
ad AS (
  SELECT ABS(dd) AS a, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM dif GROUP BY ABS(dd)
),
mr AS (
  SELECT a, t, tp,
         COALESCE(2 * SUM(t) OVER (ORDER BY a
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS dr
  FROM ad
),
agg AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(tp * dr) AS BIGINT) AS w2,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie
  FROM mr
)
SELECT n AS n_pairs, CAST(w2 AS DOUBLE) / 2 AS w_plus,
       (CAST(2 * w2 - n * (n + 1) AS DOUBLE) / 4)
         / SQRT(CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS DOUBLE) / 48)
         AS z_score
FROM agg WHERE n > 0
"""


# -- Wald-Wolfowitz runs test ------------------------------------------------
# Randomness test on the daily event-count series: runs of
# above/below-median days vs the expectation under exchangeability.
# The median comes from the distinct-value cumulative reduction with the
# repo's cross-multiplication idiom (2*cum >= tot — no percentile
# function, whose interpolation rules differ across engines);
# median-equal days are excluded (standard). n1/n2/runs are exact
# BIGINTs; expected/variance divide exact integer products once in the
# final SELECT (calendar-bounded: 2*n1*n2*(2*n1*n2-n1-n2) < 2^50 even
# at a 3,650-day horizon). The LAG window runs over the daily
# reduction, bounded by the calendar like series_autocorr.
_RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
v AS (SELECT n AS val, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY n),
cum AS (
  SELECT val,
         SUM(c) OVER (ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cb,
         SUM(c) OVER () AS tot
  FROM v
),
med AS (SELECT MIN(val) AS m FROM cum WHERE 2 * cb >= tot),
signs AS (
  SELECT d, CASE WHEN n > med.m THEN 1 ELSE 0 END AS s
  FROM daily, med WHERE n <> med.m
),
brk AS (
  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                   OR s <> LAG(s) OVER (ORDER BY d) THEN 1 ELSE 0 END AS b
  FROM signs
),
agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2,
         CAST(SUM(b) AS BIGINT) AS runs
  FROM brk
)
SELECT n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         1.0 + CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2)
       END AS expected_runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND 2 * n1 * n2 > n1 + n2 THEN
         (CAST(runs AS DOUBLE)
          - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2)))
         / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
       END AS z
FROM agg
"""


# -- Brown-Forsythe / Levene variance-equality test ---------------------------
# Are purchase values equally dispersed across weekdays? Brown-Forsythe
# = one-way ANOVA on |x - group median| — robust to non-normality
# (the median variant; Levene's original uses the mean). Group medians
# come from the distinct-CENTS cumulative reduction with the
# cross-multiplication rule (2*cum >= n), so the centering values are
# exact; the deviations are exact integer cents; and the F statistic's
# numerator/denominator aggregate exact integer sums in FIXED group
# order before the one double division (the stat_anova_weekday
# discipline — an unordered SUM over double terms drifts between
# engines). Weekday via epoch-day mod 7 against the Monday anchor.
def _levene_sql(dd: str) -> str:
    """Brown-Forsythe SQL with the stat_anova_weekday fixed-order
    discipline: per-weekday deviation power sums pivot into fixed
    columns, and every cross-group reduction is an explicit
    left-to-right + chain (an unordered SUM over double terms drifts
    between engines)."""
    wds = range(7)
    piv = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN wd = {w} THEN {c} END), 0) AS {c}{w}"
        for w in wds
        for c in ("n", "s", "q")
    )
    ssb_terms = " + ".join(
        f"(CASE WHEN n{w} > 0 THEN CAST(s{w} AS DOUBLE)"
        f" * CAST(s{w} AS DOUBLE) / CAST(n{w} AS DOUBLE)"
        f" ELSE 0.0 END)"
        for w in wds
    )
    k_eff = " + ".join(f"(CASE WHEN n{w} > 0 THEN 1 ELSE 0 END)"
                       for w in wds)
    n_tot = " + ".join(f"n{w}" for w in wds)
    s_tot = " + ".join(f"s{w}" for w in wds)
    q_tot = " + ".join(f"q{w}" for w in wds)
    return f"""
WITH x AS (
  SELECT CAST({dd} AS BIGINT) % 7 AS wd,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type = 'purchase'
),
vc AS (SELECT wd, c, CAST(COUNT(*) AS BIGINT) AS k FROM x GROUP BY wd, c),
cum AS (
  SELECT wd, c,
         SUM(k) OVER (PARTITION BY wd ORDER BY c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cb,
         SUM(k) OVER (PARTITION BY wd) AS nn
  FROM vc
),
med AS (SELECT wd, MIN(c) AS m FROM cum WHERE 2 * cb >= nn GROUP BY wd),
dev AS (
  SELECT x.wd, ABS(x.c - med.m) AS z
  FROM x JOIN med ON x.wd = med.wd
),
g AS (
  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS s,
         CAST(SUM(z * z) AS BIGINT) AS q
  FROM dev GROUP BY wd
),
p AS (
  SELECT {piv}
  FROM g
),
agg AS (
  SELECT CAST({n_tot} AS BIGINT) AS nt, CAST({s_tot} AS BIGINT) AS st,
         CAST({q_tot} AS BIGINT) AS qt, CAST({k_eff} AS BIGINT) AS kg,
         ({ssb_terms}) AS ssb_raw
  FROM p
)
SELECT kg AS n_groups, nt AS n_obs,
       -- exact integer deviation power sums (the ss_* doubles sit at
       -- ~3e9 where 1e-6 quantization is BELOW one ulp — boundary
       -- coin-flips; the exact sums verify the same information)
       st AS sum_absdev_cents, qt AS sumsq_absdev_cents,
       CASE WHEN kg > 1 AND nt > kg
                 AND CAST(qt AS DOUBLE) - ssb_raw > 0 THEN
         CAST(CAST(
           ((ssb_raw - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
               / CAST(nt AS DOUBLE)) / CAST(kg - 1 AS DOUBLE))
           / ((CAST(qt AS DOUBLE) - ssb_raw) / CAST(nt - kg AS DOUBLE))
           AS DECIMAL(18,6)) AS DOUBLE)
       END AS f_stat
FROM agg
"""


# -- Jarque-Bera normality test ----------------------------------------------
# Per event_type on the per-event value distribution (NOT daily revenue:
# per-event values are bounded 0.01..490 at EVERY scale factor, so the
# whole-dollar deviation grid below keeps z^4 power sums inside int64 at
# sf10 and beyond — daily-revenue deviations grow with sf and would
# overflow). Two exact passes: (1) integer cents sum -> deviations
# quantized to whole dollars via the n-scaled trick (cents*n - S1 is an
# exact BIGINT; one correctly-rounded double division by 100n, identical
# on both engines); (2) integer power sums of z. The residual mean of z
# (|zbar| <= 0.5 from quantization) is folded back with the standard
# central-moment expansion rather than assumed zero. skew uses
# m2*sqrt(m2), never POWER(x, 1.5) — sqrt is IEEE-correctly-rounded,
# pow is not. JB = n/6 * (skew^2 + exkurt^2/4).
_JB_SQL = """
WITH c AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), cw AS (
  -- keyed window, not groupBy+join-back: CTE inlining would re-scan
  -- the event log once per reference (plan-pinned to ONE scan)
  SELECT event_type, cents,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(cents) OVER (PARTITION BY event_type) AS s1
  FROM c
), z AS (
  SELECT event_type,
         CAST(FLOOR((cents * n - s1) / (100.0 * n) + 0.5)
              AS BIGINT) AS z
  FROM cw
), p AS (
  SELECT event_type, COUNT(*) AS n, SUM(z) AS z1, SUM(z * z) AS z2,
         SUM(z * z * z) AS z3, SUM(z * z * z * z) AS z4
  FROM z GROUP BY event_type
), mom AS (
  SELECT event_type, n,
         CAST(z1 AS DOUBLE) / n AS m1, CAST(z2 AS DOUBLE) / n AS r2,
         CAST(z3 AS DOUBLE) / n AS r3, CAST(z4 AS DOUBLE) / n AS r4
  FROM p
), cm AS (
  SELECT event_type, n, r2 - m1 * m1 AS m2,
         r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
         r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
            - 3 * m1 * m1 * m1 * m1 AS m4
  FROM mom
), st AS (
  -- snap skew/kurt onto an exact 1e-6 integer grid BEFORE combining:
  -- JB multiplies their squares by n, amplifying sub-snap engine-codegen
  -- ulp skew (FMA contraction of the moment polynomial) above the final
  -- snap. From the grid integers, JB is one exact integer expression
  -- and a single correctly-rounded multiply/divide.
  SELECT event_type, n,
         CAST(FLOOR(m3 / (m2 * SQRT(m2)) * 1000000 + 0.5) AS BIGINT)
           AS ski,
         CAST(FLOOR((m4 / (m2 * m2) - 3) * 1000000 + 0.5) AS BIGINT)
           AS eki
  FROM cm
  -- zero variance (all deviations identical) makes skew/kurt 0/0;
  -- n >= 8 because moments of a handful of points are noise, not a
  -- normality test. Both filters are exact comparisons on both engines.
  WHERE m2 > 0 AND n >= 8
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(ski AS DOUBLE) / 1e6 AS skewness,
       CAST(eki AS DOUBLE) / 1e6 AS excess_kurtosis,
       CAST(CAST(CAST(n AS DOUBLE)
                 * CAST(4 * ski * ski + eki * eki AS DOUBLE)
                 / 24e12 AS DECIMAL(18,6)) AS DOUBLE) AS jb_stat
FROM st ORDER BY event_type
"""

# -- Durbin-Watson autocorrelation test --------------------------------------
# First-order serial correlation of daily revenue residuals, per
# event_type: DW = sum((e_t - e_{t-1})^2) / sum(e_t^2), e = deviation
# from the type's mean daily revenue, quantized to whole dollars (daily
# revenue at sf10 is ~1.6e9 cents; dollar-grid squares stay < 2^63 with
# a wide margin, cent-grid ones would not). The LAG runs over at most
# |days| rows per type — a domain-bounded window, never the event log.
_DW_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
              + 0.5) AS BIGINT) AS r
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), dw_w AS (
  SELECT event_type, day, r,
         COUNT(*) OVER (PARTITION BY event_type) AS nd,
         SUM(r) OVER (PARTITION BY event_type) AS s1
  FROM daily
), e AS (
  SELECT event_type, day,
         CAST(FLOOR((r * nd - s1) / (1.0 * nd) + 0.5)
              AS BIGINT) AS e
  FROM dw_w
), l AS (
  SELECT event_type, e,
         LAG(e) OVER (PARTITION BY event_type ORDER BY day) AS pe
  FROM e
), agg AS (
  SELECT event_type, COUNT(*) AS n_days,
         SUM(CASE WHEN pe IS NULL THEN 0
             ELSE (e - pe) * (e - pe) END) AS num,
         SUM(e * e) AS den
  FROM l GROUP BY event_type
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS dw_stat
-- constant daily revenue (den = 0, exact) has no defined DW; a single
-- day per type likewise — both excluded identically on both engines
FROM agg WHERE den > 0 AND n_days >= 2 ORDER BY event_type
"""

# -- Mutual information + Cramér's V -----------------------------------------
# Association strength between the two document categoricals (lang x
# source): MI in nats, normalized MI (geometric-mean entropy), chi2 and
# Cramér's V — the columns a mixture-design pass reads before treating
# lang and source as independent sampling axes. Contingency cells are
# exact integer counts (one groupBy over the corpus — the only
# full-data pass); every derived sum ranges over the ~|langs|*|sources|
# cell table, so the window sums and the double/ln terms are
# bounded-cardinality and the DECIMAL(18,6) snap absorbs libm ulp skew
# (the text_bm25 discipline). MI terms use ln(o*n/(rt*ct)); o*n and
# rt*ct stay exact BIGINTs (< 2^63 up to ~3e9 docs).
_MI_SQL = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
), m AS (
  -- every derived quantity comes from ONE window pass over the cell
  -- table (<= |langs|*|sources| rows): the earlier scalar-subquery
  -- marginals re-ran the corpus groupBy once per reference under CTE
  -- inlining (7 parquet scans). Each lang/source contributes its
  -- marginal-entropy term exactly once via the ROW_NUMBER == 1 row.
  SELECT lang, source, o,
         SUM(o) OVER (PARTITION BY lang) AS rt,
         SUM(o) OVER (PARTITION BY source) AS ct,
         SUM(o) OVER () AS n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY source) AS rl,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY lang) AS rs
  FROM cells
), terms AS (
  SELECT o, rt, ct, n,
         CAST(o AS DOUBLE) / n
           * LN(CAST(o * n AS DOUBLE) / CAST(rt * ct AS DOUBLE)) AS mi_t,
         (o - CAST(rt * ct AS DOUBLE) / n)
           * (o - CAST(rt * ct AS DOUBLE) / n)
           / (CAST(rt * ct AS DOUBLE) / n) AS chi_t,
         CASE WHEN rl = 1 THEN -(CAST(rt AS DOUBLE) / n)
                   * LN(CAST(rt AS DOUBLE) / n) ELSE 0 END AS hl_t,
         CASE WHEN rs = 1 THEN -(CAST(ct AS DOUBLE) / n)
                   * LN(CAST(ct AS DOUBLE) / n) ELSE 0 END AS hs_t,
         CASE WHEN rl = 1 THEN 1 ELSE 0 END AS is_l,
         CASE WHEN rs = 1 THEN 1 ELSE 0 END AS is_s
  FROM m
), tot AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells,
         SUM(mi_t) AS mi, SUM(chi_t) AS chi2,
         SUM(hl_t) AS hl, SUM(hs_t) AS hs,
         SUM(is_l) AS nl, SUM(is_s) AS ns
  FROM terms
)
SELECT t.n, t.n_cells,
       CAST(CAST(t.mi AS DECIMAL(18,6)) AS DOUBLE) AS mi_nats,
       -- a single-category axis has zero marginal entropy (hl/hs = 0
       -- EXACTLY: the lone ln(1) term) and leaves NMI undefined; the
       -- guard mirrors the regular-graph NULL branch in assortativity
       -- because Spark and DuckDB disagree on double 0/0 (NULL vs inf)
       CASE WHEN t.hl <= 0 OR t.hs <= 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(t.mi / SQRT(t.hl * t.hs) AS DECIMAL(18,6))
                 AS DOUBLE)
       END AS nmi,
       CAST(CAST(t.chi2 AS DECIMAL(18,6)) AS DOUBLE) AS chi2,
       -- same degenerate case for V: min(nl, ns) = 1 zeroes the
       -- denominator, and chi2/0 diverges differently per engine
       CASE WHEN (CASE WHEN t.nl < t.ns THEN t.nl ELSE t.ns END) <= 1
            THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              SQRT(t.chi2 / (t.n * (CASE WHEN t.nl < t.ns THEN t.nl
                                    ELSE t.ns END - 1)))
              AS DECIMAL(18,6)) AS DOUBLE)
       END AS cramers_v
FROM tot t
"""

# -- Ljung-Box portmanteau test ----------------------------------------------
# Is the daily event-count series white noise? Q = n(n+2) sum_{k=1..5}
# r_k^2/(n-k) per event_type, with the standard fixed-mean ACF (unlike
# series_autocorr's per-lag Pearson): deviations are n-scaled exact
# integers (d = n*x - S), so every autocovariance is an exact BIGINT
# and each r_k is one correctly-rounded division; the five r_k^2/(n-k)
# terms land on the 1e-12 grid before the exact sum. LAG windows are
# day-domain-bounded per type.
_LJUNG_BOX_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), lb_w AS (
  SELECT event_type, day, x,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(x) OVER (PARTITION BY event_type) AS sx
  FROM daily
), d AS (
  SELECT event_type, day, n, x * n - sx AS dev
  FROM lb_w
), l AS (
  SELECT event_type, n, dev,
         LAG(dev, 1) OVER w AS d1, LAG(dev, 2) OVER w AS d2,
         LAG(dev, 3) OVER w AS d3, LAG(dev, 4) OVER w AS d4,
         LAG(dev, 5) OVER w AS d5
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
), g AS (
  SELECT event_type, MAX(n) AS n, SUM(dev * dev) AS den,
         SUM(CASE WHEN d1 IS NULL THEN 0 ELSE dev * d1 END) AS c1,
         SUM(CASE WHEN d2 IS NULL THEN 0 ELSE dev * d2 END) AS c2,
         SUM(CASE WHEN d3 IS NULL THEN 0 ELSE dev * d3 END) AS c3,
         SUM(CASE WHEN d4 IS NULL THEN 0 ELSE dev * d4 END) AS c4,
         SUM(CASE WHEN d5 IS NULL THEN 0 ELSE dev * d5 END) AS c5
  FROM l GROUP BY event_type
), q AS (
  SELECT event_type, n,
         CAST(FLOOR((CAST(c1 AS DOUBLE) / CAST(den AS DOUBLE))
              * (CAST(c1 AS DOUBLE) / CAST(den AS DOUBLE))
              / (n - 1) * 1e12 + 0.5) AS BIGINT)
       + CAST(FLOOR((CAST(c2 AS DOUBLE) / CAST(den AS DOUBLE))
              * (CAST(c2 AS DOUBLE) / CAST(den AS DOUBLE))
              / (n - 2) * 1e12 + 0.5) AS BIGINT)
       + CAST(FLOOR((CAST(c3 AS DOUBLE) / CAST(den AS DOUBLE))
              * (CAST(c3 AS DOUBLE) / CAST(den AS DOUBLE))
              / (n - 3) * 1e12 + 0.5) AS BIGINT)
       + CAST(FLOOR((CAST(c4 AS DOUBLE) / CAST(den AS DOUBLE))
              * (CAST(c4 AS DOUBLE) / CAST(den AS DOUBLE))
              / (n - 4) * 1e12 + 0.5) AS BIGINT)
       + CAST(FLOOR((CAST(c5 AS DOUBLE) / CAST(den AS DOUBLE))
              * (CAST(c5 AS DOUBLE) / CAST(den AS DOUBLE))
              / (n - 5) * 1e12 + 0.5) AS BIGINT) AS qsum
  FROM g WHERE n > 5 AND den > 0
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(5 AS BIGINT) AS n_lags,
       CAST(CAST(CAST(n * (n + 2) AS DOUBLE) * qsum / 1e12
            AS DECIMAL(18,6)) AS DOUBLE) AS lb_q
FROM q ORDER BY event_type
"""

# -- Grubbs max-deviation outlier test ----------------------------------------
# Is the most extreme daily-revenue day a statistical outlier? G =
# max|x - xbar| / s on the n-scaled integer deviation grid (the
# stat_durbin_watson trick: x*n - s1 exact BIGINT, one division by n,
# FLOOR to whole dollars, so the power sums are exact; largest is
# n*z2 ~ 1.2e18 at sf10, the documented sf100 path is a 10-dollar
# grid). The critical value needs a t-quantile, so the entry reports
# the STATISTIC plus the offending day — the argmax with a min-day
# tiebreak, picked by an ORDER BY/LIMIT over the day-domain table.
_GRUBBS_TAIL = """
WITH w AS (
  SELECT day, r, COUNT(*) OVER () AS n, SUM(r) OVER () AS s1 FROM {v}
), z AS (
  SELECT day, r, n,
         CAST(FLOOR((r * n - s1) / (1.0 * n) + 0.5) AS BIGINT) AS z
  FROM w
), p AS (
  SELECT MAX(n) AS n, SUM(z) AS z1, SUM(z * z) AS z2,
         MAX(ABS(z)) AS mz
  FROM z
), peak AS (
  SELECT z.day AS peak_day, z.r AS peak_revenue
  FROM z CROSS JOIN p WHERE ABS(z.z) = p.mz
  ORDER BY z.day LIMIT 1
)
SELECT CAST(p.n AS BIGINT) AS n_days,
       CASE WHEN p.n < 3 OR p.n * p.z2 = p.z1 * p.z1
            THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              CAST(p.mz AS DOUBLE)
              / SQRT(CAST(p.z2 AS DOUBLE) / p.n
                     - (CAST(p.z1 AS DOUBLE) / p.n)
                       * (CAST(p.z1 AS DOUBLE) / p.n))
              AS DECIMAL(18,6)) AS DOUBLE)
       END AS grubbs_g,
       peak.peak_day,
       CAST(peak.peak_revenue AS BIGINT) AS peak_revenue
FROM p CROSS JOIN peak
"""


def _grubbs(spark, sf):
    """Day table checkpointed once: the tail reads it for both the
    moment pass and the argmax pass (CTE inlining would re-scan the
    event log per reference)."""
    daily = spark.sql(DAILY_REVENUE_WHOLE).localCheckpoint(eager=True)
    daily.createOrReplaceTempView("grubbs_daily")
    return spark.sql(_GRUBBS_TAIL.format(v="grubbs_daily"))


_GRUBBS_DUCK = (
    "WITH gd AS ("
    + DAILY_REVENUE_WHOLE
    + "), "
    + _GRUBBS_TAIL.format(v="gd").replace("WITH ", "", 1)
)

# -- Kaplan-Meier conversion survival -----------------------------------------
# Censored time-to-convert: subjects are users with >= 1 click; the
# event is the first purchase AT/AFTER the first click (day-granular);
# users who never convert are right-CENSORED at their last seen event
# — the piece event_time_to_convert (which drops non-converters)
# cannot express. One event-log scan: first-click/last-seen come from
# keyed per-user windows, the risk-set and survival windows run over
# the bounded lag-day domain. S(t) = prod(1 - d/n) is carried as LOG
# survival on the 1e-9 per-term grid (exp is not correctly rounded,
# the sum of grid terms is exact); when d = n_at_risk the survival
# hits exact zero and log S is NULL from that day on.
_KM_BODY = """
WITH w AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id) AS fc,
         MAX(ts) OVER (PARTITION BY user_id) AS last_seen
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), per_user AS (
  SELECT user_id, MIN(fc) AS fc, MIN(last_seen) AS last_seen,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= fc THEN ts END)
           AS cts
  FROM w GROUP BY user_id
), subjects AS (
  SELECT user_id,
         CASE WHEN cts IS NOT NULL THEN {dd_conv} ELSE {dd_cens} END
           AS t,
         CASE WHEN cts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user WHERE fc IS NOT NULL
), grid AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM subjects GROUP BY t
), km AS (
  SELECT t, d,
         SUM(c) OVER (ORDER BY t DESC) AS n_at_risk
  FROM grid
), terms AS (
  SELECT t, d, n_at_risk,
         CASE WHEN d = n_at_risk THEN CAST(NULL AS BIGINT)
              ELSE CAST(FLOOR(
                LN(1.0 - CAST(d AS DOUBLE) / n_at_risk) * 1e9 + 0.5)
                AS BIGINT) END AS q,
         CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS dies
  FROM km WHERE d > 0
), surv AS (
  SELECT t, d, n_at_risk,
         SUM(q) OVER (ORDER BY t) AS cq,
         SUM(dies) OVER (ORDER BY t) AS cd
  FROM terms
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_conversions,
       CASE WHEN cd > 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(CAST(cq AS DOUBLE) / 1e9
                 AS DECIMAL(18,6)) AS DOUBLE)
       END AS log_survival
FROM surv ORDER BY t_days
"""

_KM_SPARK = _KM_BODY.format(
    dd_conv="DATEDIFF(CAST(cts AS DATE), CAST(fc AS DATE))",
    dd_cens="DATEDIFF(CAST(last_seen AS DATE), CAST(fc AS DATE))",
)

_KM_DUCK = _KM_BODY.format(
    dd_conv="(CAST(cts AS DATE) - CAST(fc AS DATE))",
    dd_cens="(CAST(last_seen AS DATE) - CAST(fc AS DATE))",
)

# -- Friedman rank test across weekday groups -----------------------------------
# Nonparametric repeated-measures ANOVA: does revenue differ by weekday
# once week-to-week level shifts are blocked out? Each COMPLETE week is
# a block; weekday revenues rank within their block (ties get average
# ranks, carried as 2x-rank integers so everything stays exact), chi2_F
# = 12/(n k (k+1)) sum(Rj^2) - 3 n (k+1), plus the tie-corrected
# variant (the Kruskal-Wallis denominator). Day-of-week comes from
# arithmetic on the epoch-Monday day number ({dd} % 7), not from
# dayofweek() — Spark numbers Sunday=1, DuckDB Sunday=0 (the dialect
# trap series_seasonal_naive documents). Windows run over 7-row blocks
# of the day-domain table; sums are exact BIGINTs (2x-ranks <= 15 per
# cell, sr2^2 <= ~1e7 at centuries of weeks).
_FRIEDMAN_WK = """
  SELECT d, r,
         CAST(FLOOR({dd} / 7.0) AS BIGINT) AS week,
         CAST({dd} % 7 + 1 AS BIGINT) AS dow
  FROM (
    SELECT CAST(ts AS DATE) AS d,
           CAST(FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                / 100.0 + 0.5) AS BIGINT) AS r
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
  ) daily
"""

# The complete-week rank CTEs of both weekday tests. The week-keyed day
# table is checkpointed once: the block filter, the rank join and the
# tie scan all re-reference it, and CTE inlining re-scanned the event
# log FIVE times in the pure-SQL form (plan-pinned to zero parquet
# scans).
_WEEK_RANKS = """
WITH wk AS (SELECT * FROM {v}), fullw AS (
  SELECT week FROM wk GROUP BY week HAVING COUNT(*) = 7
), ranked AS (
  SELECT wk.week, wk.dow,
         RANK() OVER (PARTITION BY wk.week ORDER BY wk.r) AS rk,
         COUNT(*) OVER (PARTITION BY wk.week, wk.r) AS tie
  FROM wk JOIN fullw ON wk.week = fullw.week
), r2 AS (
  -- average rank under ties, times 2: RANK + (tie-1)/2 -> 2rk + tie - 1
  SELECT week, dow, 2 * rk + tie - 1 AS r2, tie FROM ranked
), sums AS (
  SELECT dow, SUM(r2) AS sr2 FROM r2 GROUP BY dow
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fullw
)"""


def _weekday_test(tail: str, view: str):
    """The Spark builder and the DuckDB oracle of a rank test whose
    ``tail`` follows ``_WEEK_RANKS``; ``view`` names the checkpointed
    week table."""

    def fn(spark, sf):
        wk = spark.sql(
            _FRIEDMAN_WK.format(dd="DATEDIFF(d, DATE'1969-12-29')")
        ).localCheckpoint(eager=True)
        wk.createOrReplaceTempView(view)
        return spark.sql((_WEEK_RANKS + tail).format(v=view))

    duck = (
        "WITH wkd AS ("
        + _FRIEDMAN_WK.format(dd="date_diff('day', DATE '1969-12-29', d)")
        + "), "
        + (_WEEK_RANKS + tail).format(v="wkd").replace("WITH ", "", 1)
    )
    return fn, duck


_friedman, _FRIEDMAN_DUCK = _weekday_test(
    """, ties AS (
  -- per-block tie correction: sum(t^3 - t) over tie GROUPS (each
  -- group of t tied values contributes once — divide the per-row
  -- count by t)
  SELECT COALESCE(SUM((tie * tie * tie - tie) / tie), 0) AS tsum,
         COUNT(*) AS nr
  FROM r2 WHERE tie > 1
), stat AS (
  SELECT nb.n,
         12.0 / (nb.n * 7 * 8) * (CAST(SUM(s.sr2 * s.sr2) AS DOUBLE) / 4.0)
           - 3.0 * nb.n * 8 AS chi2,
         ties.tsum
  FROM sums s CROSS JOIN nb CROSS JOIN ties
  GROUP BY nb.n, ties.tsum
)
SELECT CAST(n AS BIGINT) AS n_weeks, CAST(7 AS BIGINT) AS k_groups,
       CAST(CAST(chi2 AS DECIMAL(18,6)) AS DOUBLE) AS friedman_chi2,
       CASE WHEN 1.0 - CAST(tsum AS DOUBLE) / (n * 7 * 48) <= 0
            THEN CAST(NULL AS DOUBLE)
            ELSE CAST(CAST(
              chi2 / (1.0 - CAST(tsum AS DOUBLE) / (n * 7 * 48))
              AS DECIMAL(18,6)) AS DOUBLE)
       END AS friedman_chi2_tie_corrected
FROM stat
""",
    "friedman_wk",
)

# -- Page's trend test across weekdays ------------------------------------------
# The ORDERED-alternative companion to stat_friedman_test: Friedman asks
# "does weekday matter at all?", Page's L asks "does revenue trend
# MONOTONICALLY across the week (Mon < Tue < ... < Sun)?" — strictly
# more powerful when the alternative is ordered. Reuses Friedman's
# checkpointed complete-week rank table verbatim (same 2x-rank exact
# integers, same epoch-Monday weekday arithmetic — _FRIEDMAN_WK);
# L = sum_j j * R_j lands on the exact 0.5 grid (sum of dow * 2x-rank,
# halved once), and the normal approximation z = (L - n*k*(k+1)^2/4) /
# sqrt(n * k^2(k-1)(k+1)^2 / 144) keeps the radicand exact-integer
# (n * 18816 / 144 for k=7) with one sqrt + DECIMAL snap at the
# boundary. z is the NO-TIE permutation null (ties shift the variance
# slightly; L and the rank sums themselves are exact under average
# ranks — the same documentation honesty as the KW tie note).
_page_trend, _PAGE_DUCK = _weekday_test(
    """, stat AS (
  SELECT nb.n,
         CAST(SUM(s.dow * s.sr2) AS DOUBLE) / 2.0 AS l
  FROM sums s CROSS JOIN nb GROUP BY nb.n
)
SELECT CAST(n AS BIGINT) AS n_weeks,
       CAST(7 AS BIGINT) AS k_groups,
       CAST(l AS DOUBLE) AS page_l,
       CAST(CAST(
         (l - 112.0 * n) / SQRT(CAST(n * 18816 AS DOUBLE) / 144.0)
         AS DECIMAL(18,6)) AS DOUBLE) AS page_z
FROM stat
""",
    "page_wk",
)

QUERIES: dict[str, Q] = {
    # Chi-square independence test (event_type x weekday contingency):
    # observed vs expected from the marginals, all exact integer counts
    # until the final ratio — one aggregation pass builds the cells, the
    # marginals are window sums over |cells| rows. The engines only
    # differ in the weekday expression (handled like pivot_native).
    "stat_chi_square": sql_q(
        """
        WITH cells AS (
          SELECT dayofweek(ts) - 1 AS dow, event_type,
                 COUNT(*) AS o
          FROM events GROUP BY dayofweek(ts) - 1, event_type
        ),
        m AS (
          SELECT dow, event_type, o,
                 SUM(o) OVER (PARTITION BY dow) AS row_tot,
                 SUM(o) OVER (PARTITION BY event_type) AS col_tot,
                 SUM(o) OVER () AS n
          FROM cells
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST((COUNT(DISTINCT dow) - 1)
                    * (COUNT(DISTINCT event_type) - 1) AS BIGINT) AS dof,
               CAST(CAST(SUM(
                 POWER(o - CAST(row_tot * col_tot AS DOUBLE) / n, 2)
                 / (CAST(row_tot * col_tot AS DOUBLE) / n)
               ) AS DECIMAL(18,6)) AS DOUBLE) AS chi2
        FROM m
        """,
        ("events",),
        oracle="""
        WITH cells AS (
          SELECT CAST(extract(dow FROM ts) AS INTEGER) AS dow, event_type,
                 COUNT(*) AS o
          FROM events
          GROUP BY CAST(extract(dow FROM ts) AS INTEGER), event_type
        ),
        m AS (
          SELECT dow, event_type, o,
                 SUM(o) OVER (PARTITION BY dow) AS row_tot,
                 SUM(o) OVER (PARTITION BY event_type) AS col_tot,
                 SUM(o) OVER () AS n
          FROM cells
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST((COUNT(DISTINCT dow) - 1)
                    * (COUNT(DISTINCT event_type) - 1) AS BIGINT) AS dof,
               CAST(CAST(SUM(
                 POWER(o - CAST(row_tot * col_tot AS DOUBLE) / n, 2)
                 / (CAST(row_tot * col_tot AS DOUBLE) / n)
               ) AS DECIMAL(18,6)) AS DOUBLE) AS chi2
        FROM m
        """,
    ),
    # Two-sample A/B comparison (Welch z on the purchase value metric,
    # arms by user-id hash parity — the deterministic assignment every
    # experimentation pipeline uses): per-arm n/mean/variance partials
    # combine map-side; the z statistic is scalar math over the 2-row
    # aggregate. Identical ANSI SQL on both engines.
    "stat_ab_welch_z": sql_q(
        """
        WITH arms AS (
          SELECT user_id % 2 AS arm,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 AVG(value) AS mean_v,
                 var_samp(value) AS var_v
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id % 2
        )
        SELECT a.n AS n_a, b.n AS n_b,
               CAST(CAST(a.mean_v AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
               CAST(CAST(b.mean_v AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
               CAST(CAST((b.mean_v - a.mean_v)
                    / SQRT(a.var_v / a.n + b.var_v / b.n)
                    AS DECIMAL(18,6)) AS DOUBLE) AS welch_z
        FROM arms a JOIN arms b ON a.arm = 0 AND b.arm = 1
        """,
        ("events",),
    ),
    # Two-sample Kolmogorov-Smirnov D between the purchase and click
    # value distributions: group-by value (ECDF is right-continuous at
    # ties), one ordered window for the joint cumulative counts, then
    # max of an exact integer cross-difference — D only becomes a double
    # in the final division, so both engines agree bit-for-bit. The
    # unpartitioned cumulative window runs over DISTINCT 2-decimal
    # values (domain-bounded: <= 100*max_value rows regardless of event
    # count), not the log — the WindowExec warning is value-domain-sized.
    "stat_ks_two_sample": sql_q(
        """
        WITH v AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS na,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS nb
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY value
        ), c AS (
          SELECT SUM(na) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS ca,
                 SUM(nb) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cb
          FROM v
        ), t AS (
          SELECT SUM(na) AS ta, SUM(nb) AS tb FROM v
        )
        SELECT CAST(MAX(ABS(ca * t.tb - cb * t.ta)) AS DOUBLE)
                 / CAST(t.ta * t.tb AS DOUBLE) AS ks_d,
               CAST(t.ta AS BIGINT) AS n_purchase,
               CAST(t.tb AS BIGINT) AS n_click
        FROM c, t GROUP BY t.ta, t.tb
        """,
        ("events",),
    ),
    # Gini coefficient of the value distribution per event type
    # (inequality / concentration analytics): rank-weighted sum identity
    # G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) on integer cents.
    # Rank ties share equal x, so the weighted sum is permutation-
    # invariant — the ROW_NUMBER tiebreak only pins the plan.
    "stat_gini": sql_q(
        """
        WITH x AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rk
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(c) AS sc, SUM(rk * c) AS src
          FROM x GROUP BY event_type
        )
        SELECT event_type, n,
               CASE WHEN sc = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST(2 * src - (n + 1) * sc AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(sc AS DOUBLE))
               END AS gini
        FROM g ORDER BY event_type
        """,
        ("events",),
    ),
    # Mann-Whitney U (rank-sum) test between the purchase and click
    # value distributions, with midrank tie handling and the tie-
    # corrected normal approximation. Doubled rank sums keep every
    # intermediate an exact integer (midranks are half-integers); the
    # z-score is one closed-form double expression evaluated identically
    # by both engines. Companion to stat_ks_two_sample / stat_ab_welch_z.
    "stat_mann_whitney": sql_q(
        """
        WITH v AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS na,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS nb,
                 COUNT(*) AS nt
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY value
        ), c AS (
          SELECT na, nb, nt,
                 SUM(nt) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nt AS cum_before
          FROM v
        ), s AS (
          SELECT SUM(na * (2 * cum_before + nt + 1)) AS r2a,
                 SUM(na) AS ta, SUM(nb) AS tb,
                 SUM(nt * nt * nt - nt) AS ties
          FROM c
        )
        SELECT CAST(r2a - ta * (ta + 1) AS DOUBLE) / 2 AS u_stat,
               CAST(ta AS BIGINT) AS n_purchase,
               CAST(tb AS BIGINT) AS n_click,
               (CAST(r2a - ta * (ta + 1) AS DOUBLE) / 2
                  - CAST(ta * tb AS DOUBLE) / 2)
                 / SQRT(CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE) / 12
                        * (CAST(ta + tb + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / CAST((ta + tb) * (ta + tb - 1) AS DOUBLE)))
                 AS z_score
        FROM s
        """,
        ("events",),
    ),
    # Benford first-digit audit over order totals (data-quality /
    # anomaly primitive). The first digit comes from the exact integer
    # cents rendered as a string — identical on both engines — never
    # from log10 arithmetic; the expected distribution is inlined as
    # Python-computed literals (see _BENFORD_CASE).
    "stat_benford_first_digit": sql_q(
        _BENFORD_SQL.format(strty="STRING"),
        ("orders",),
        oracle=_BENFORD_SQL.format(strty="VARCHAR"),
    ),
    # Pareto concentration per brand: how many of the brand's parts
    # (ranked by revenue) cover 80% of its revenue. Exact integer cents
    # and the 5*cum >= 4*total integer threshold keep the crossing rank
    # exact; (rev DESC, partkey) is a total order.
    "stat_pareto_share": sql_q(
        """
        WITH rp AS (
          SELECT p.p_brand AS brand, l.l_partkey AS pk,
                 SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS rev_c
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand, l.l_partkey
        ), c AS (
          SELECT brand, rev_c,
                 SUM(rev_c) OVER (PARTITION BY brand
                                  ORDER BY rev_c DESC, pk
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_c,
                 SUM(rev_c) OVER (PARTITION BY brand) AS tot_c,
                 ROW_NUMBER() OVER (PARTITION BY brand
                                    ORDER BY rev_c DESC, pk) AS rk,
                 COUNT(*) OVER (PARTITION BY brand) AS np
          FROM rp
        )
        SELECT brand,
               CAST(MIN(CASE WHEN 5 * cum_c >= 4 * tot_c THEN rk END)
                    AS BIGINT) AS parts_to_80pct,
               CAST(MAX(np) AS BIGINT) AS n_parts,
               CAST(MIN(CASE WHEN 5 * cum_c >= 4 * tot_c THEN rk END)
                    AS DOUBLE) / CAST(MAX(np) AS DOUBLE) AS pareto_frac
        FROM c GROUP BY brand ORDER BY brand
        """,
        ("lineitem", "part"),
    ),
    # Spearman rank correlation with midrank ties (quantity vs price per
    # return flag): doubled midranks are exact integers (the Mann-Whitney
    # trick — 2*rank = 2*cum_before + nt + 1 per distinct value, joined
    # back to rows), so Pearson-on-ranks reduces to integer power sums
    # and one closed-form double expression. The rank tables are
    # distinct-value reductions; the join back is on (group, value).
    "stat_spearman_corr": sql_q(
        """
        WITH x AS (
          SELECT l_returnflag AS flag,
                 CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q,
                 CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
          FROM lineitem
        ), rq AS (
          SELECT flag, q,
                 2 * (SUM(cnt) OVER (PARTITION BY flag ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - cnt) + cnt + 1 AS r2
          FROM (SELECT flag, q, COUNT(*) AS cnt FROM x GROUP BY flag, q) t
        ), rp AS (
          SELECT flag, p,
                 2 * (SUM(cnt) OVER (PARTITION BY flag ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - cnt) + cnt + 1 AS r2
          FROM (SELECT flag, p, COUNT(*) AS cnt FROM x GROUP BY flag, p) t
        ), j AS (
          SELECT x.flag, rq.r2 AS a, rp.r2 AS b
          FROM x JOIN rq ON x.flag = rq.flag AND x.q = rq.q
                 JOIN rp ON x.flag = rp.flag AND x.p = rp.p
        ), jc AS (
          -- doubled midranks sum to exactly n(n+1) (ties preserve the
          -- total), so the exact mean is n+1: centering BEFORE the
          -- power sums bounds every PRODUCT by n^2 (int64-safe to
          -- n ~ 3e9 rows/group) — the uncentered n*saa form overflowed
          -- BIGINT past ~2M rows/group (hit at sf0.1 under ANSI mode)
          SELECT flag,
                 a - (COUNT(*) OVER (PARTITION BY flag) + 1) AS da,
                 b - (COUNT(*) OVER (PARTITION BY flag) + 1) AS db
          FROM j
        ), s AS (
          -- the SUMS reach n^3 (8e21 at sf10's 20M-row groups — the
          -- r12 sf10 gate caught the BIGINT sum overflowing): exact
          -- order-independent DECIMAL(25,0) accumulation of int64
          -- terms, the queries/base.py convention, good past sf100
          SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(da * db AS DECIMAL(25,0))) AS sab,
                 SUM(CAST(da * da AS DECIMAL(25,0))) AS saa,
                 SUM(CAST(db * db AS DECIMAL(25,0))) AS sbb
          FROM jc GROUP BY flag
        )
        SELECT flag, n,
               CAST(sab AS DOUBLE)
                 / (SQRT(CAST(saa AS DOUBLE)) * SQRT(CAST(sbb AS DOUBLE)))
                 AS spearman_rho
        FROM s ORDER BY flag
        """,
        ("lineitem",),
    ),
    "stat_kendall_tau": sql_q(_KENDALL_SQL, ("events",)),
    "stat_theil_sen": sql_q(
        _THEIL_SEN_BODY.format(dd="DATEDIFF(b.d, a.d)"),
        ("events",),
        oracle=_THEIL_SEN_BODY.format(dd="date_diff('day', a.d, b.d)"),
    ),
    "stat_ols_trend": sql_q(
        _OLS_BODY.format(dd="DATEDIFF(d, DATE'2024-01-01')"),
        ("events",),
        oracle=_OLS_BODY.format(
            dd="date_diff('day', DATE '2024-01-01', d)"
        ),
    ),
    "stat_kruskal_wallis": sql_q(_KRUSKAL_SQL, ("events",)),
    "stat_anova_weekday": sql_q(
        _anova_sql("DATEDIFF(d, DATE'1969-12-29')"),
        ("events",),
        oracle=_anova_sql("date_diff('day', DATE '1969-12-29', d)"),
    ),
    "stat_wilcoxon_signed_rank": sql_q(
        _wilcoxon_sql("DATEDIFF(d, DATE'1969-12-29')"),
        ("events",),
        oracle=_wilcoxon_sql("date_diff('day', DATE '1969-12-29', d)"),
    ),
    "stat_runs_test": sql_q(_RUNS_TEST_SQL, ("events",)),
    "stat_levene_brown_forsythe": sql_q(
        _levene_sql("DATEDIFF(CAST(ts AS DATE), DATE'2024-01-01')"),
        ("events",),
        oracle=_levene_sql(
            "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"
        ),
    ),
    "stat_jarque_bera": sql_q(_JB_SQL, ("events",)),
    "stat_durbin_watson": sql_q(_DW_SQL, ("events",)),
    "stat_mi_cramers_v": sql_q(_MI_SQL, ("documents",)),
    "stat_ljung_box": sql_q(_LJUNG_BOX_SQL, ("events",)),
    "stat_grubbs_outlier": df_q(
        _grubbs, ("events",), oracle=_GRUBBS_DUCK
    ),
    "stat_kaplan_meier": sql_q(
        _KM_SPARK, ("events",), oracle=_KM_DUCK
    ),
    "stat_friedman_test": df_q(
        _friedman, ("events",), oracle=_FRIEDMAN_DUCK
    ),
    "stat_page_trend": df_q(
        _page_trend, ("events",), oracle=_PAGE_DUCK
    ),
}
