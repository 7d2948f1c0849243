"""Temporal joins and intervals: as-of joins (``asof_*``), the range
join (``range_join_events``), slowly-changing-dimension intervals
(``scd2_*``) and hypertable rollups (``hypertable_*``).

DuckDB has as-of and inequality joins natively, the oracles for our
composition-based Spark implementations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.operators.temporal import asof_join, range_join_within
from cassandra_sql_spark.queries.base import Q, df_q, sql_q


def _asof(spark, sf):
    ev = load(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("purchase_ts"),
        F.col("value_asof").alias("purchase_value"),
    )


def _range(spark, sf):
    ev = load(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id",
        F.col("ts").alias("err_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    out = range_join_within(
        errors, clicks, on="user_id", left_ts="err_ts",
        right_ts="click_ts", tolerance_seconds=600,
    )
    return out.select("err_id", "click_id", "user_id")


QUERIES: dict[str, Q] = {
    # Hypertable-style multi-granularity time rollup: one pass produces
    # day, month, and grand-total aggregates via GROUPING SETS over time
    # buckets (the continuous-aggregate shape; at scale a single expand +
    # one shuffle instead of three scans).
    "hypertable_rollup": sql_q(
        """
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               DATE_TRUNC('day', o_orderdate) AS day,
               GROUPING(DATE_TRUNC('day', o_orderdate)) AS g_day,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY GROUPING SETS (
          (DATE_TRUNC('month', o_orderdate), DATE_TRUNC('day', o_orderdate)),
          (DATE_TRUNC('month', o_orderdate)),
          ()
        )
        """,
        ("orders",),
        oracle="""
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(DATE_TRUNC('day', o_orderdate) AS TIMESTAMP) AS day,
               GROUPING(DATE_TRUNC('day', o_orderdate)) AS g_day,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY GROUPING SETS (
          (DATE_TRUNC('month', o_orderdate), DATE_TRUNC('day', o_orderdate)),
          (DATE_TRUNC('month', o_orderdate)),
          ()
        )
        -- Spark emits NO rows for grouping sets over empty input where
        -- pg/DuckDB emit a zero grand-total () row; the engine contract
        -- is Spark's behavior, so the oracle drops that row
        HAVING COUNT(*) > 0
        """,
    ),
    # Backward as-of join: most recent purchase at or before each click.
    "asof_join_purchases": df_q(
        _asof,
        ("events",),
        oracle="""
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, ts AS pts, value FROM events
          WHERE event_type = 'purchase'
        )
        SELECT c.event_id, c.user_id, c.ts,
               p.pts AS purchase_ts, p.value AS purchase_value
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND p.pts <= c.ts
        """,
    ),
    # Banded range join: error events within 10 minutes of a click by the
    # same user (whole-second semantics on both sides).
    "range_join_events": df_q(
        _range,
        ("events",),
        oracle="""
        SELECT a.event_id AS err_id, b.event_id AS click_id, a.user_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'error' AND b.event_type = 'click'
         AND ABS(FLOOR(epoch(a.ts)) - FLOOR(epoch(b.ts))) <= 600
        """,
    ),
    # Forward as-of join: the NEXT purchase at or after each click (the
    # "time-to-conversion" shape). Same union+window merge as backward
    # with the time axis reversed; DuckDB's ASOF picks the direction
    # from the inequality.
    "asof_join_forward": df_q(
        lambda spark, sf: (
            lambda ev: asof_join(
                ev.filter(F.col("event_type") == "click").select(
                    "event_id", "user_id", "ts"
                ),
                ev.filter(F.col("event_type") == "purchase").select(
                    "user_id", "ts", "value"
                ),
                on="user_id",
                left_ts="ts",
                right_ts="ts",
                value_cols=["value"],
                direction="forward",
            ).select(
                "event_id",
                "user_id",
                "ts",
                F.col("ts_asof").alias("next_purchase_ts"),
                F.col("value_asof").alias("next_purchase_value"),
            )
        )(load(spark, sf, "events")),
        ("events",),
        oracle="""
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, ts AS pts, value FROM events
          WHERE event_type = 'purchase'
        )
        SELECT c.event_id, c.user_id, c.ts,
               p.pts AS next_purchase_ts, p.value AS next_purchase_value
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND p.pts >= c.ts
        """,
    ),
    # Nearest-in-time as-of (pandas merge_asof direction="nearest"):
    # whichever of the backward/forward purchase is closer to the click,
    # ties backward. One shuffle on user_id, two in-partition window
    # passes; the oracle composes DuckDB's two directed ASOF joins and
    # applies the identical gap rule.
    "asof_join_nearest": df_q(
        lambda spark, sf: (
            lambda ev: asof_join(
                ev.filter(F.col("event_type") == "click").select(
                    "event_id", "user_id", "ts"
                ),
                ev.filter(F.col("event_type") == "purchase").select(
                    "user_id", "ts", "value"
                ),
                on="user_id",
                left_ts="ts",
                right_ts="ts",
                value_cols=["value"],
                direction="nearest",
            ).select(
                "event_id",
                "user_id",
                "ts",
                F.col("ts_asof").alias("near_purchase_ts"),
                F.col("value_asof").alias("near_purchase_value"),
            )
        )(load(spark, sf, "events")),
        ("events",),
        oracle="""
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, ts AS pts, value FROM events
          WHERE event_type = 'purchase'
        )
        -- chained ASOF joins keep exactly one output row per click row
        -- (a b-join-f self-join would multiply duplicate event ids)
        SELECT c.event_id, c.user_id, c.ts,
               CASE WHEN f.pts IS NULL
                         OR (b.pts IS NOT NULL
                             AND (c.ts - b.pts) <= (f.pts - c.ts))
                    THEN b.pts ELSE f.pts END AS near_purchase_ts,
               CASE WHEN f.pts IS NULL
                         OR (b.pts IS NOT NULL
                             AND (c.ts - b.pts) <= (f.pts - c.ts))
                    THEN b.value ELSE f.value END AS near_purchase_value
        FROM c
        ASOF LEFT JOIN p b ON c.user_id = b.user_id AND b.pts <= c.ts
        ASOF LEFT JOIN p f ON c.user_id = f.user_id AND f.pts >= c.ts
        """,
    ),
    # SCD2 validity intervals from a change log: per-entity versions
    # with valid_from / valid_to / is_current / version — the warehouse
    # "slowly changing dimension" reconstruction. One LEAD pass per
    # entity; at 100 TB one shuffle on the entity key.
    "scd2_intervals": sql_q(
        """
        SELECT user_id, ts AS valid_from,
               LEAD(ts) OVER w AS valid_to,
               LEAD(ts) OVER w IS NULL AS is_current,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               value AS attr
        FROM events WHERE event_type = 'signup'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version
        """,
        ("events",),
    ),
}
