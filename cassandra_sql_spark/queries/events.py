"""Behavioral analytics over the event log (``event_*``): funnels,
sessions, retention, attribution, Markov paths, churn, concurrency,
entropy and inequality of user activity.

Orderings inside a user carry ``(ts, event_id)`` as a total order, and
JSON props are read with each engine's own extraction function.
"""

from __future__ import annotations

from cassandra_sql_spark.io import load
from cassandra_sql_spark.queries.base import (
    LORENZ_GINI,
    Q,
    df_q,
    lorenz_ctes,
    sql_q,
)


# DAU/MAU stickiness per calendar month: the engagement ratio every
# product-analytics stack ships. Integer month key (y*12+m — the
# date_trunc dialect trap avoided), exact integer numerators, one
# double division.
_STICKINESS_SQL = """
WITH du AS (
  SELECT CAST(ts AS DATE) AS d, user_id
  FROM events WHERE ts IS NOT NULL
  GROUP BY CAST(ts AS DATE), user_id
),
m AS (
  SELECT CAST(EXTRACT(YEAR FROM d) * 12 + EXTRACT(MONTH FROM d)
              AS BIGINT) AS mkey,
         d, user_id
  FROM du
),
dau AS (
  SELECT mkey, d, CAST(COUNT(*) AS BIGINT) AS a FROM m GROUP BY mkey, d
),
mau AS (
  SELECT mkey, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM m GROUP BY mkey
),
s AS (
  SELECT mkey, CAST(SUM(a) AS BIGINT) AS sum_dau,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dau GROUP BY mkey
)
SELECT s.mkey AS month_key, s.n_days, s.sum_dau, mau.mau,
       CAST(s.sum_dau AS DOUBLE) / (s.n_days * mau.mau) AS stickiness
FROM s JOIN mau ON s.mkey = mau.mkey
ORDER BY month_key
"""

# Week-over-week churn: users active in week w but not w+1. Week key =
# epoch-days // 7 (Monday anchor); the last week is excluded (it has no
# successor to churn into). LEFT JOIN on (user, next week) keeps the
# shuffle on the distinct (week, user) reduction.
_CHURN_BODY = """
WITH act AS (
  SELECT DISTINCT
         CAST(FLOOR({dd} / 7.0) AS BIGINT) AS wk, user_id
  FROM (
    SELECT CAST(ts AS DATE) AS d, user_id
    FROM events WHERE ts IS NOT NULL
  ) e
),
r AS (
  SELECT a.wk, CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained
  FROM act a
  LEFT JOIN act b ON b.wk = a.wk + 1 AND b.user_id = a.user_id
  GROUP BY a.wk
),
mx AS (SELECT MAX(wk) AS last_wk FROM act)
SELECT r.wk AS week_key, r.n_active, r.n_retained,
       r.n_active - r.n_retained AS n_churned,
       CAST(r.n_active - r.n_retained AS DOUBLE) / r.n_active
         AS churn_rate
FROM r, mx WHERE r.wk < mx.last_wk ORDER BY week_key
"""

# -- conversion latency percentiles ----------------------------------------
# Time from each user's first signup to their first subsequent purchase,
# in whole seconds (exact integers — CAST(interval AS BIGINT) on Spark
# == FLOOR(epoch(...)) on DuckDB for non-negative gaps), p25/p50/p75/p90
# via the integer-threshold rule over the DISTINCT latency values.
_TTC_BODY = """
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase, f.first_signup
  FROM events e JOIN f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
    AND f.first_signup IS NOT NULL AND e.ts >= f.first_signup
  GROUP BY e.user_id, f.first_signup
),
lat AS (
  SELECT {secs} AS s FROM p
),
dist AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS t FROM lat GROUP BY s),
w AS (
  SELECT s,
         SUM(t) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         SUM(t) OVER () AS tw
  FROM dist
),
g AS (SELECT {grid} AS q)
SELECT CAST(g.q AS BIGINT) AS pct,
       CAST(MIN(CASE WHEN 100 * w.cw >= g.q * w.tw THEN w.s END)
            AS BIGINT) AS latency_s
FROM g, w GROUP BY g.q ORDER BY pct
"""

# -- audience overlap between event types ------------------------------------
# Jaccard of user sets per event-type pair — the cross-feature audience
# audit. One DISTINCT (type, user) reduction, then a self-join on
# user_id whose fan-out per user is C(types-per-user, 2) <= C(5, 2) = 10
# (type-domain-bounded, the basket_pair_lift cost class). Pairs sharing
# zero users do not appear (inner join), documented.
_AUDIENCE_OVERLAP_SQL = """
WITH ut AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
deg AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS du FROM ut GROUP BY t),
inter AS (
  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS c
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT i.ta AS type_a, i.tb AS type_b, i.c AS n_shared,
       da.du AS n_a, db.du AS n_b,
       CAST(i.c AS DOUBLE) / (da.du + db.du - i.c) AS jaccard
FROM inter i
JOIN deg da ON i.ta = da.t
JOIN deg db ON i.tb = db.t
ORDER BY type_a, type_b
"""

# -- peak concurrency over gap-sessionized intervals -------------------------
# Max simultaneously-open sessions (capacity planning): sessionize by
# the 30-minute gap rule (event_sessionize_batch's exact CTE), emit
# +1/-1 boundary deltas, and sweep HIERARCHICALLY — a per-day running
# sum plus a day-level prefix carry — so no window ever sees more than
# one day of boundaries in one partition (the flat global ORDER BY
# sweep would be a single-reducer sort over every session boundary at
# 100 TB; the day carry is calendar-bounded). Sessions touching at an
# exact timestamp count as concurrent (+1 sorts before -1 via d DESC).
# Output (the peak and the first timestamp achieving it) is invariant
# to intra-tie window order: within a (ts, d) tie group only the last
# +1 row attains the group's peak, and every other row is strictly
# below its group peak, so the achieving-ts set is well-defined.
_MAX_CONCURRENT_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
  FROM assigned GROUP BY user_id, sid
),
delta AS (
  SELECT st AS ts, 1 AS d FROM sess
  UNION ALL
  SELECT en AS ts, -1 AS d FROM sess
),
cum AS (
  SELECT ts, CAST(ts AS DATE) AS day,
         SUM(d) OVER (PARTITION BY CAST(ts AS DATE)
                      ORDER BY ts, d DESC ROWS UNBOUNDED PRECEDING)
           AS cin
  FROM delta
),
daytot AS (
  SELECT CAST(ts AS DATE) AS day, CAST(SUM(d) AS BIGINT) AS dt
  FROM delta GROUP BY CAST(ts AS DATE)
),
carry AS (
  SELECT day,
         COALESCE(SUM(dt) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
  FROM daytot
),
lvl AS (
  SELECT c.ts, k.cb + c.cin AS conc
  FROM cum c JOIN carry k ON c.day = k.day
),
mx AS (SELECT MAX(conc) AS m FROM lvl)
SELECT CAST(mx.m AS BIGINT) AS max_concurrent,
       MIN(l.ts) AS first_peak_ts
FROM lvl l, mx WHERE l.conc = mx.m
GROUP BY mx.m
"""

# -- daily bounce rate --------------------------------------------------------
# Share of single-event sessions per day (sessions dated by their
# start) — the classic engagement-quality metric, built on the exact
# event_sessionize_batch CTE. One user_id shuffle for sessionization,
# then a calendar-bounded rollup.
_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS st,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM assigned GROUP BY user_id, sid
)
SELECT CAST(st AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS bounce_rate
FROM sess
GROUP BY CAST(st AS DATE)
ORDER BY day
"""

# -- telemetry debounce -------------------------------------------------------
# Drop events repeating the same (user, type) within 5 minutes of the
# previous KEPT event? No — the standard streaming-safe debounce keeps
# an event iff the PREVIOUS RAW event of its (user, type) is > 5 min
# older (LAG rule; idempotent under at-least-once delivery for pairs,
# and expressible as one in-partition window — the chained "previous
# kept" variant needs a sequential scan and is NOT distributable
# without sessionization). Output is the kept-count audit per type.
_DEBOUNCE_SQL = """
WITH lagged AS (
  SELECT event_type, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE ts IS NOT NULL
),
marked AS (
  SELECT event_type,
         CASE WHEN prev_ts IS NULL
                OR ts - prev_ts > INTERVAL '5' MINUTE
              THEN 1 ELSE 0 END AS keep
  FROM lagged
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_debounced,
       CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS keep_rate
FROM marked
GROUP BY event_type
ORDER BY event_type
"""

# -- Per-user activity entropy -----------------------------------------------
# Shannon entropy of each user's event-type mix — the bot-vs-human
# behavioral feature (a scripted client hammers one type, H ~ 0; a
# browsing human spreads mass, H -> ln 5). Two bounded shuffles
# ((user, type) counts, then user rollup); each user's entropy sums at
# most |types| ln terms, quantized per-term onto the 1e-9 grid.
_USER_ENTROPY_SQL = """
WITH ut AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id, event_type
), uw AS (
  SELECT user_id, c,
         SUM(c) OVER (PARTITION BY user_id) AS n,
         COUNT(*) OVER (PARTITION BY user_id) AS n_types
  FROM ut
), terms AS (
  SELECT user_id, n, n_types,
         CAST(FLOOR(
           CAST(c AS DOUBLE) / n
             * LN(CAST(n AS DOUBLE) / c) * 1e9 + 0.5) AS BIGINT) AS q
  FROM uw
)
SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MAX(n_types) AS BIGINT) AS n_types,
       CAST(SUM(q) AS DOUBLE) / 1e9 AS entropy_nats
FROM terms
GROUP BY user_id
ORDER BY user_id
"""

# -- Recency-decayed revenue --------------------------------------------------
# Per-user exponentially decayed spend (half-life ~6.6 days at 0.9/day)
# — the recency-weighted LTV feature. The decay WEIGHT table is what
# gets quantized (one FLOOR(0.9^age * 1e9) per distinct age — ~|days|
# values, so libm pow ulp skew has ~|days| grid-boundary lottery
# tickets, not one per event); each event's contribution is then an
# exact BIGINT product and the per-user sum is order-free.
_DECAYED_BODY = """
WITH mx AS (
  SELECT MAX(CAST(ts AS DATE)) AS m FROM events WHERE ts IS NOT NULL
), t AS (
  SELECT e.user_id,
         CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(POWER(0.9, {age}) * 1e9 + 0.5) AS BIGINT) AS wq
  FROM events e, mx
  WHERE e.ts IS NOT NULL AND e.value IS NOT NULL
    AND e.user_id IS NOT NULL
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents * wq) AS DOUBLE) / 1e11 AS decayed_usd
FROM t GROUP BY user_id ORDER BY user_id
"""

_DECAYED_SPARK = _DECAYED_BODY.format(age="DATEDIFF(mx.m, CAST(e.ts AS DATE))")

_DECAYED_DUCK = _DECAYED_BODY.format(age="(mx.m - CAST(e.ts AS DATE))")

# -- New vs returning users daily ----------------------------------------------
# The growth panel: per day, how many active users are seen for the
# FIRST time vs returning, plus the returning share. One scan: the
# first-seen day comes from a keyed per-user window (MIN(day) OVER),
# the rollup is day-domain. LAST 30 days by day order to keep the
# output bounded and the cut total-ordered.
_NEW_RETURNING_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), tagged AS (
  SELECT day, user_id,
         MIN(day) OVER (PARTITION BY user_id) AS first_day
  FROM act
)
SELECT day,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users,
       CAST(CAST(
         CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*)
         AS DECIMAL(18,6)) AS DOUBLE) AS returning_share
FROM tagged GROUP BY day
ORDER BY day DESC LIMIT 30
"""

# -- Purchase-frequency band migration ------------------------------------------
# Customer-lifecycle transition matrix: each user's purchase count in
# the FIRST half of the observed span vs the SECOND half, banded
# none/one/few(2-3)/many(4+) — fixed exact-integer band edges, so no
# quantile machinery is needed and the matrix is deterministic at any
# scale. One event scan (the span midpoint is a broadcast scalar);
# the matrix groups a 4x4 domain.
_FREQ_MIGRATION_BODY = """
WITH span AS (
  SELECT MIN({us}) AS mn, MAX({us}) AS mx FROM events e
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), halves AS (
  -- first vs second half of the observed span by exact integer
  -- microseconds: (t - mn) * 2 < (mx - mn). Spark unix_micros and
  -- DuckDB epoch_us are both exact BIGINT epochs (unix_timestamp /
  -- epoch() truncate or fractionalize seconds and diverge)
  SELECT e.user_id,
         SUM(CASE WHEN e.event_type = 'purchase'
                  AND ({us} - s.mn) * 2 < s.mx - s.mn
             THEN 1 ELSE 0 END) AS p1,
         SUM(CASE WHEN e.event_type = 'purchase'
                  AND ({us} - s.mn) * 2 >= s.mx - s.mn
             THEN 1 ELSE 0 END) AS p2
  FROM events e CROSS JOIN span s
  WHERE e.ts IS NOT NULL AND e.user_id IS NOT NULL
  GROUP BY e.user_id
), banded AS (
  SELECT CASE WHEN p1 = 0 THEN 'none' WHEN p1 = 1 THEN 'one'
              WHEN p1 <= 3 THEN 'few' ELSE 'many' END AS band_h1,
         CASE WHEN p2 = 0 THEN 'none' WHEN p2 = 1 THEN 'one'
              WHEN p2 <= 3 THEN 'few' ELSE 'many' END AS band_h2
  FROM halves
), m AS (
  SELECT band_h1, band_h2, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM banded GROUP BY band_h1, band_h2
)
SELECT band_h1, band_h2, n_users,
       CAST(CAST(
         CAST(n_users AS DOUBLE) / SUM(n_users) OVER ()
         AS DECIMAL(18,6)) AS DOUBLE) AS share
FROM m ORDER BY band_h1, band_h2
"""

_FREQ_MIGRATION_SPARK = _FREQ_MIGRATION_BODY.format(us="unix_micros(e.ts)")

_FREQ_MIGRATION_DUCK = _FREQ_MIGRATION_BODY.format(us="epoch_us(e.ts)")

# -- User-activity Gini ---------------------------------------------------------
# Inequality of engagement: the Lorenz/Gini panel (order_revenue_gini's
# exact 1e-15 term grid) applied to per-user EVENT COUNTS — the
# "how concentrated is our traffic" panel next to event_stickiness.
# Counts are exact BIGINTs (no cent grid needed); the rank runs through
# operators.global_order.sharded_rank (third entry family on the
# primitive), so there is no single-reducer sort over the user rollup
# (~1e9 users at the 100 TB point). The DuckDB oracle keeps the plain
# global window — the sharded form must match it exactly.
_ACT_GINI_ROLLUP = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
"""


def _act_gini_tail(v: str, ranked: str) -> str:
    return f"""
WITH {lorenz_ctes(v, "c", ranked)}
SELECT CAST(s.n AS BIGINT) AS n_users,
       CAST(s.s1 AS BIGINT) AS n_events,
       CAST(CAST({LORENZ_GINI} AS DECIMAL(18,9)) AS DOUBLE) AS gini
FROM s CROSS JOIN lz
"""


def _activity_gini(spark, sf):
    # df_q registers the events view before this runs
    from cassandra_sql_spark.operators.global_order import sharded_rank

    cust = spark.sql(_ACT_GINI_ROLLUP).localCheckpoint(eager=True)
    ranked = sharded_rank(cust, ["c", "user_id"], rank_col="i")
    ranked.createOrReplaceTempView("act_gini_ranked")
    cust.createOrReplaceTempView("act_gini_users")
    return spark.sql(
        _act_gini_tail("act_gini_users", "SELECT c, i FROM act_gini_ranked")
    )


_ACT_GINI_DUCK = (
    "WITH u AS ("
    + _ACT_GINI_ROLLUP
    + "), "
    + _act_gini_tail(
        "u", "SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS i FROM u"
    ).replace("WITH ", "", 1)
)

# -- Ping-pong transition rate ----------------------------------------------------
# Session path quality: the share of A->B->A bounces among all length-3
# event windows per user — the oscillation signature bot filters and
# UI-loop audits key on (a training-data pipeline drops high-pingpong
# sessions the way it drops high-repetition text). Two LEADs over the
# per-user (ts, event_id) order (keyed window: shards by user), a 4x4-
# bounded pair rollup, total-ordered top cut. NULL ts/user/type rows
# identify no transition and are excluded (the NULL-ordering trap).
_PINGPONG_ROLLUP = """
WITH seq AS (
  SELECT event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS c
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
)
SELECT a, b, CASE WHEN a = c AND a != b THEN 1 ELSE 0 END AS pp,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE c IS NOT NULL
GROUP BY a, b, CASE WHEN a = c AND a != b THEN 1 ELSE 0 END
"""

_PINGPONG_TAIL = """
WITH g AS (SELECT * FROM {v}), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_triples FROM g
)
SELECT g.a, g.b, g.n AS n_pingpong,
       CAST(CAST(
         CAST(g.n AS DOUBLE) / tot.n_triples
         AS DECIMAL(18,9)) AS DOUBLE) AS share_of_all_triples
FROM g CROSS JOIN tot
WHERE g.pp = 1
ORDER BY n_pingpong DESC, g.a, g.b
LIMIT 10
"""


def _pingpong(spark, sf):
    """The (a, b, pp) rollup is bounded by |event types|^2 x 2 and is
    referenced twice (total + pair cut) — checkpointed so CTE inlining
    cannot re-scan the event log (the r9b scan-multiplier trap; one
    parquet scan, pinned)."""
    g = spark.sql(_PINGPONG_ROLLUP).localCheckpoint(eager=True)
    g.createOrReplaceTempView("pingpong_g")
    return spark.sql(_PINGPONG_TAIL.format(v="pingpong_g"))


_PINGPONG_DUCK = (
    "WITH pg AS ("
    + _PINGPONG_ROLLUP
    + "), "
    + _PINGPONG_TAIL.format(v="pg").replace("WITH ", "", 1)
)

QUERIES: dict[str, Q] = {
    # Batch gap-based sessionization (30-min inactivity gap): lag ->
    # new-session flag -> running sum -> per-session rollup. The exact
    # batch complement of the rows-only streaming applyInPandasWithState
    # sessionizer; one shuffle on user_id, window + agg share it.
    # Batch complement of streaming/events.anomalies (same prior-window
    # z-score semantics, expressed as running window aggregates — the
    # cross-engine-checkable form of the stateful operator; the Welford
    # fold in the streaming path computes the identical prior-statistics
    # sequence). The z-score lands as DECIMAL(18,4) so the comparison is
    # immune to var_samp's last-ulp differences between engines; the
    # >3 cut runs on the raw value in both.
    "event_anomaly_batch": df_q(
        lambda spark, sf: (
            lambda _: spark.sql(
                """
                WITH stats AS (
                  SELECT user_id, ts, event_id, value,
                         COUNT(value) OVER wprev AS n_prev,
                         AVG(value) OVER wprev AS mean_prev,
                         VAR_SAMP(value) OVER wprev AS var_prev
                  FROM events_anom
                  WHERE value IS NOT NULL
                  WINDOW wprev AS (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                )
                SELECT user_id, ts, value,
                       CAST(CAST((value - mean_prev) / SQRT(var_prev)
                            AS DECIMAL(18,4)) AS DOUBLE) AS zscore
                FROM stats
                WHERE n_prev >= 10 AND var_prev > 0
                  AND ABS((value - mean_prev) / SQRT(var_prev)) > 3.0
                """
            )
        )(
            load(spark, sf, "events").createOrReplaceTempView("events_anom")
        ),
        ("events",),
        oracle="""
                WITH stats AS (
                  SELECT user_id, ts, event_id, value,
                         COUNT(value) OVER wprev AS n_prev,
                         AVG(value) OVER wprev AS mean_prev,
                         VAR_SAMP(value) OVER wprev AS var_prev
                  FROM events
                  WHERE value IS NOT NULL
                  WINDOW wprev AS (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                )
                SELECT user_id, ts, value,
                       CAST(CAST((value - mean_prev) / SQRT(var_prev)
                            AS DECIMAL(18,4)) AS DOUBLE) AS zscore
                FROM stats
                WHERE n_prev >= 10 AND var_prev > 0
                  AND ABS((value - mean_prev) / SQRT(var_prev)) > 3.0
        """,
    ),
    "event_sessionize_batch": df_q(
        lambda spark, sf: (
            lambda ev: spark.sql(
                """
                WITH flagged AS (
                  SELECT user_id, ts, event_id,
                         CASE WHEN LAG(ts) OVER w IS NULL
                                OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
                              THEN 1 ELSE 0 END AS new_sess
                  FROM events_sess
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
                ), assigned AS (
                  SELECT user_id, ts,
                         SUM(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
                  FROM flagged
                )
                SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       MIN(ts) AS session_start, MAX(ts) AS session_end
                FROM assigned
                GROUP BY user_id, session_no
                """
            )
        )(
            load(spark, sf, "events").createOrReplaceTempView("events_sess")
        ),
        ("events",),
        oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), assigned AS (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_no
          FROM flagged
        )
        SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM assigned
        GROUP BY user_id, session_no
        """,
    ),
    # Ordered conversion funnel view -> click -> purchase: each later
    # stage must happen strictly after the user's earliest prior-stage
    # event, and the whole journey must close within 30 days of the
    # first view. Single-pass formulation: two running-MIN windows over
    # the SAME (user_id, time) partitioning -- one exchange, one scan --
    # then three filtered COUNT(DISTINCT)s. (The per-stage CTE cascade
    # re-expands under Catalyst inlining into 7 scans of the log; the
    # running-min form is equivalent because a user's global first view
    # is exactly the first view preceding any qualifying later event.)
    "event_funnel": sql_q(
        """
        WITH seq AS (
          SELECT user_id, ts, event_id, event_type,
                 MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER w AS first_view
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        seq2 AS (
          SELECT user_id, ts, event_type, first_view,
                 MIN(CASE WHEN event_type = 'click'
                          AND ts > first_view THEN ts END)
                   OVER w2 AS first_click
          FROM seq
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT COUNT(DISTINCT CASE WHEN event_type = 'view'
                                   THEN user_id END) AS stage_view,
               COUNT(DISTINCT CASE WHEN event_type = 'click'
                                   AND ts > first_view
                                   THEN user_id END) AS stage_click,
               COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                   AND ts > first_click
                                   AND ts <= first_view + INTERVAL 30 DAY
                                   THEN user_id END) AS stage_purchase
        FROM seq2
        """,
        ("events",),
    ),
    # Weekly cohort retention: cohort = ISO week of the user's first
    # event; active_users(cohort, n) = distinct users from that cohort
    # seen again n whole weeks later. Single scan: the cohort week is an
    # unordered per-user window MIN, so no second pass over the log and
    # no join. datediff() argument order is the one dialect split.
    "event_retention_cohort": sql_q(
        """
        WITH act AS (
          SELECT DISTINCT user_id, cohort_week,
                 CAST(FLOOR(DATEDIFF(CAST(ts AS DATE), cohort_week)
                            / 7) AS BIGINT) AS week_n
          FROM (
            SELECT user_id, ts,
                   CAST(DATE_TRUNC('WEEK',
                        MIN(ts) OVER (PARTITION BY user_id)) AS DATE)
                     AS cohort_week
            FROM events
          ) f
        )
        SELECT cohort_week, week_n, COUNT(*) AS active_users
        FROM act GROUP BY cohort_week, week_n
        ORDER BY cohort_week, week_n
        """,
        ("events",),
        oracle="""
        WITH act AS (
          SELECT DISTINCT user_id, cohort_week,
                 CAST(FLOOR(DATEDIFF('day', cohort_week, CAST(ts AS DATE))
                            / 7) AS BIGINT) AS week_n
          FROM (
            SELECT user_id, ts,
                   CAST(DATE_TRUNC('WEEK',
                        MIN(ts) OVER (PARTITION BY user_id)) AS DATE)
                     AS cohort_week
            FROM events
          ) f
        )
        SELECT cohort_week, week_n, COUNT(*) AS active_users
        FROM act GROUP BY cohort_week, week_n
        ORDER BY cohort_week, week_n
        """,
    ),
    # Ordered-sequence pattern (the MATCH_RECOGNIZE shape): purchases
    # whose very next event for the same user is an error within one
    # hour. One LEAD window pass — not a self-join.
    "event_purchase_then_error": sql_q(
        """
        WITH seq AS (
          SELECT user_id, event_id, ts, event_type,
                 LEAD(event_type) OVER w AS next_type,
                 LEAD(ts) OVER w AS next_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, ts, next_ts
        FROM seq
        WHERE event_type = 'purchase' AND next_type = 'error'
          AND next_ts <= ts + INTERVAL 1 HOUR
        ORDER BY user_id, event_id
        """,
        ("events",),
    ),
    # Top session paths: 30-minute-gap sessions, event-type trigrams in
    # session order, global top-10. The || concat propagates NULL on
    # both engines (CONCAT does not: DuckDB's skips NULLs), so
    # incomplete trigrams at session tails drop out identically.
    "event_path_trigrams": sql_q(
        """
        WITH flagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        assigned AS (
          SELECT user_id, ts, event_id, event_type,
                 SUM(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_no
          FROM flagged
        ),
        tri AS (
          SELECT event_type || '>' || LEAD(event_type) OVER w2
                 || '>' || LEAD(event_type, 2) OVER w2 AS path
          FROM assigned
          WINDOW w2 AS (PARTITION BY user_id, session_no
                        ORDER BY ts, event_id)
        )
        SELECT path, COUNT(*) AS n
        FROM tri WHERE path IS NOT NULL
        GROUP BY path
        ORDER BY n DESC, path
        LIMIT 10
        """,
        ("events",),
    ),
    # First-order Markov chain over per-user event sequences: transition
    # counts from one LEAD pass (no self-join) and row-normalized
    # probabilities from a windowed sum over the finished aggregate —
    # the state space is the event-type alphabet squared, so the final
    # window is tiny no matter the corpus size.
    "event_markov_transitions": sql_q(
        """
        WITH seq AS (
          SELECT event_type AS src,
                 LEAD(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
          WHERE ts IS NOT NULL
        )
        SELECT src, dst,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(FLOOR(
                 CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY src)
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000 AS p
        FROM seq
        WHERE dst IS NOT NULL
        GROUP BY src, dst
        """,
        ("events",),
    ),
    # RFM (recency/frequency/monetary) quintile segmentation — the
    # classic CRM scoring transform. One user_id shuffle builds the
    # per-user triple; the anchor date is a 1-row scalar subquery
    # (broadcast); quintiles come from NTILE over a total order
    # (user_id tiebreak keeps both engines' tile assignment identical).
    # Global NTILE is a single-partition sort of the USER table (not
    # the event log) — at 100 TB you'd swap it for approx_percentile
    # cutoffs; the exact form is the oracle-checkable contract.
    "event_rfm_segmentation": sql_q(
        """
        WITH rfm AS (
          SELECT user_id,
                 MAX(CAST(ts AS DATE)) AS last_day,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100 AS monetary
          FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY user_id
        ),
        scored AS (
          SELECT user_id,
                 DATEDIFF((SELECT MAX(last_day) FROM rfm), last_day)
                   AS recency_days,
                 frequency, monetary
          FROM rfm
        )
        SELECT user_id,
               CAST(recency_days AS BIGINT) AS recency_days,
               frequency, monetary,
               CAST(NTILE(5) OVER (ORDER BY recency_days ASC, user_id)
                    AS BIGINT) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id)
                    AS BIGINT) AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id)
                    AS BIGINT) AS m_score
        FROM scored
        """,
        ("events",),
        oracle="""
        WITH rfm AS (
          SELECT user_id,
                 MAX(CAST(ts AS DATE)) AS last_day,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100 AS monetary
          FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY user_id
        ),
        scored AS (
          SELECT user_id,
                 (SELECT MAX(last_day) FROM rfm) - last_day
                   AS recency_days,
                 frequency, monetary
          FROM rfm
        )
        SELECT user_id,
               CAST(recency_days AS BIGINT) AS recency_days,
               frequency, monetary,
               CAST(NTILE(5) OVER (ORDER BY recency_days ASC, user_id)
                    AS BIGINT) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id)
                    AS BIGINT) AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id)
                    AS BIGINT) AS m_score
        FROM scored
        """,
    ),
    # Inter-arrival time percentiles per event type. Gaps are computed
    # on EXACT integer microseconds (Spark unix_micros == DuckDB
    # epoch_us; fractional epoch()/unix_timestamp() truncate or round
    # differently between engines) and reported in seconds. One
    # (user, type) window shuffle, then an alphabet-bounded aggregate.
    "event_interarrival_stats": sql_q(
        """
        WITH gaps AS (
          SELECT event_type,
                 CAST(unix_micros(ts) - LAG(unix_micros(ts)) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS DOUBLE) / 1000000 AS gap_s
          FROM events
          WHERE ts IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
               CAST(CAST(FLOOR(percentile(gap_s, 0.5) * 1000000 + 0.5)
                    AS BIGINT) AS DOUBLE) / 1000000 AS p50_s,
               CAST(CAST(FLOOR(percentile(gap_s, 0.9) * 1000000 + 0.5)
                    AS BIGINT) AS DOUBLE) / 1000000 AS p90_s
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type
        """,
        ("events",),
        oracle="""
        WITH gaps AS (
          SELECT event_type,
                 CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS DOUBLE) / 1000000 AS gap_s
          FROM events
          WHERE ts IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
               CAST(CAST(FLOOR(quantile_cont(gap_s, 0.5) * 1000000 + 0.5)
                    AS BIGINT) AS DOUBLE) / 1000000 AS p50_s,
               CAST(CAST(FLOOR(quantile_cont(gap_s, 0.9) * 1000000 + 0.5)
                    AS BIGINT) AS DOUBLE) / 1000000 AS p90_s
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type
        """,
    ),
    # First-touch attribution: every purchase credits the user's FIRST
    # event_type (marketing-channel attribution). One shuffle on user_id
    # for the window, then a tiny grouped rollup; revenue through the
    # exact integer-cents idiom.
    "event_attribution": sql_q(
        """
        WITH o AS (
          SELECT user_id, event_type, value,
                 FIRST_VALUE(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_touch
          FROM events WHERE ts IS NOT NULL
        )
        SELECT first_touch,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100 AS revenue
        FROM o WHERE event_type = 'purchase'
        GROUP BY first_touch ORDER BY first_touch
        """,
        ("events",),
    ),
    # Session conversion rate: 30-minute-inactivity sessions (the same
    # gap rule as event_sessionize_batch), share of sessions containing
    # a purchase, by session-start day. One shuffle on user_id shared by
    # the gap window and the session rollup, then a tiny daily rollup.
    "event_session_conversion": sql_q(
        """
        WITH e AS (
          SELECT user_id, ts, event_id, event_type
          FROM events WHERE ts IS NOT NULL
        ), flagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                           OR ts > LAG(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                                + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM e
        ), sess AS (
          SELECT user_id, ts, event_type,
                 SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sid
          FROM flagged
        ), per AS (
          SELECT user_id, sid, CAST(MIN(ts) AS DATE) AS start_day,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
          FROM sess GROUP BY user_id, sid
        )
        SELECT start_day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS conversion_rate
        FROM per GROUP BY start_day ORDER BY start_day
        """,
        ("events",),
    ),
    "event_churn_weekly": sql_q(
        _CHURN_BODY.format(dd="DATEDIFF(d, DATE'1969-12-29')"),
        ("events",),
        oracle=_CHURN_BODY.format(
            dd="date_diff('day', DATE '1969-12-29', d)"
        ),
    ),
    "event_stickiness": sql_q(_STICKINESS_SQL, ("events",)),
    "event_time_to_convert": sql_q(
        _TTC_BODY.format(
            secs="CAST(first_purchase - first_signup AS BIGINT)",
            grid="explode(array(25, 50, 75, 90))",
        ),
        ("events",),
        oracle=_TTC_BODY.format(
            secs=(
                "CAST(FLOOR(epoch(first_purchase - first_signup))"
                " AS BIGINT)"
            ),
            grid="UNNEST([25, 50, 75, 90])",
        ),
    ),
    "event_audience_overlap": sql_q(
        _AUDIENCE_OVERLAP_SQL, ("events",)
    ),
    "event_max_concurrent_sessions": sql_q(
        _MAX_CONCURRENT_SQL, ("events",)
    ),
    "event_bounce_rate_daily": sql_q(_BOUNCE_SQL, ("events",)),
    "event_debounce_audit": sql_q(_DEBOUNCE_SQL, ("events",)),
    "event_user_entropy": sql_q(_USER_ENTROPY_SQL, ("events",)),
    "event_decayed_revenue": sql_q(
        _DECAYED_SPARK, ("events",), oracle=_DECAYED_DUCK
    ),
    "event_new_vs_returning": sql_q(_NEW_RETURNING_SQL, ("events",)),
    "event_frequency_migration": sql_q(
        _FREQ_MIGRATION_SPARK, ("events",),
        oracle=_FREQ_MIGRATION_DUCK,
    ),
    "event_activity_gini": df_q(
        _activity_gini, ("events",), oracle=_ACT_GINI_DUCK
    ),
    "event_pingpong_rate": df_q(
        _pingpong, ("events",), oracle=_PINGPONG_DUCK
    ),
}
