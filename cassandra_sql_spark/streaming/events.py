"""Structured Streaming operators over the events stream.

The reference has zero streaming machinery (SURVEY §2.10) — its only
"continuous" feature is the background MaterializedViewRefreshJob
(kv/jobs/MaterializedViewRefreshJob.java), which rematerializes views on a
timer. Here the same needs are expressed the Spark-native way:

- windowed aggregation with watermark (late-data tolerant tumbling/sliding
  windows) — the building block for incremental rollups;
- incremental materialized view: a streaming aggregation kept current per
  micro-batch (Trigger.AvailableNow for catch-up runs = the reference's
  periodic refresh, but incremental: only new files are read);
- sessionization with applyInPandasWithState — a custom stateful operator
  (gap-based session windows per user) that has no batch-SQL equivalent.

Scale notes: state lives in the state store keyed by (group key, window) —
partitioned by key, so 1000 executors shard state naturally. Watermarks
bound state size; without them unbounded keys would accumulate forever.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    Testdata events.parquet has shipped as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across driver data generations; sniff the physical
    type from the parquet footer (no Spark job, stream stays lazily
    defined) and floor-divide nanos-as-long to micros only when needed.
    nanosAsLong is only set for the NANOS generation — it is session-wide
    and would corrupt other nanos tables if set unconditionally.
    """
    from cassandra_sql_spark.io import events_ts_is_nanos

    # streaming entries don't go through io.register, so pin UTC here too
    # — timestamp determinism vs the oracle must not depend on whether a
    # batch query ran first in the shared session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    ts_is_nanos = events_ts_is_nanos(path)
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = StructType(
        [
            f if f.name != "ts" or not ts_is_nanos
            else StructField("ts", LongType())
            for f in EVENTS_SCHEMA.fields
        ]
    )
    if os.path.isdir(path):
        # directory-of-part-files layout (any Spark-written table)
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file layout (the driver fixtures): stream the parent
        # dir filtered to exactly this file
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type aggregation with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions via Spark's BUILT-IN ``session_window``
    operator — the zero-UDF path, identical semantics in batch and
    streaming (the ``sessionize`` applyInPandasWithState operator stays
    for what the built-in can't express: emitting CLOSED sessions
    mid-stream as their event-time timeout fires). ``window.end`` is
    last event ts + gap by the operator's definition; rows with NULL
    event time belong to no session."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def ohlc_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming OHLC resample: per (day, event_type) candlestick bars
    maintained incrementally — the streaming twin of the batch
    ``series_resample_ohlc`` entry.

    min_by/max_by are declarative aggregates with partial merge, so the
    state per group is one (value, ts) pair per extreme plus the
    min/max/count/sum scalars — O(|days x types|) state total, bounded
    by the watermark horizon in append deployments. Drained in complete
    mode the bars equal the batch GROUP BY exactly (every aggregate
    here is order-independent: the scaled-integer sum replaces the
    float sum for cross-engine and cross-partitioning determinism)."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max_by("value", "ts").alias("close"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).cast("double")
                / 100
            ).alias("volume"),
        )
    )


def run_available_now(
    stream_df: DataFrame, sink_table: str, checkpoint_dir: str, mode: str = "complete"
) -> None:
    """Drain all available input through the streaming plan into a memory
    sink (the reference's periodic MV refresh, done incrementally)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(checkpoint_dir, sink_table))
        .trigger(availableNow=True)
    ).start()
    q.awaitTermination()


def countmin_stream(
    stream: DataFrame,
    value_col: str = "user_id",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Streaming count-min grid: per-micro-batch counter increments via
    a streaming aggregation keyed by (row, col).

    The state store holds AT MOST depth*width counter cells — bounded by
    CONSTRUCTION, independent of stream length or value cardinality.
    That is the whole point of running the sketch as the streaming
    frequency monitor instead of a per-value count (whose state grows
    with the key space): a year of events costs the same 32 KB of state
    as an hour. Grid values equal the batch-built grid exactly
    (count is associative); pinned in tests/test_sketches.py."""
    from cassandra_sql_spark.pipeline.sketches import _cm_col

    ex = stream.select(
        F.posexplode(
            F.array(
                *[
                    _cm_col(F.col(value_col), r, width)
                    for r in range(depth)
                ]
            )
        ).alias("_row", "_col")
    )
    return ex.groupBy("_row", "_col").agg(F.count(F.lit(1)).alias("_cnt"))


def streaming_event_window_counts(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """End-to-end: file stream -> watermarked windowed agg -> memory sink.

    Returns the drained result as a batch DataFrame; equivalent to the
    batch GROUP BY date_trunc('hour', ts) — which is exactly how the
    DuckDB oracle checks it.
    """
    events = read_events_stream(spark, sf_dir)
    agg = windowed_counts(events)
    run_available_now(agg, "event_window_counts", checkpoint_dir)
    return spark.table("event_window_counts")


def attribution_join(
    events: DataFrame,
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval self-join: purchases attributed to the same
    user's clicks within ``window_minutes``.

    Both branches carry a watermark and the join carries a two-sided time
    constraint, so the state store can evict click state once the purchase
    watermark passes click_ts + window (bounded state — the requirement for
    running this forever on 1000 executors). Inner join: rows emit as both
    sides arrive; with Trigger.AvailableNow the drained result equals the
    batch interval join, which is how the oracle checks it.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {window_minutes} MINUTES
            """
        ),
        "inner",
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        F.round(F.col("value") * 100).cast("long").alias("purchase_cents"),
    )


def attribution_join_left(
    events: DataFrame,
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits, with
    purchase columns null when no purchase followed within the window.

    Outer streaming joins REQUIRE the watermark + two-sided time
    constraint (unlike inner, where they are only an optimization): a
    click can only be emitted as unmatched once the purchase watermark
    has passed click_ts + window, i.e. no future match is possible. With
    Trigger.AvailableNow the drained result equals the batch left join —
    the oracle — for every click older than the final watermark; the
    fixture's max ts bounds that tail, so the comparison is exact.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {window_minutes} MINUTES
            """
        ),
        "leftOuter",
    )
    return joined.select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich each streamed event with a per-user
    profile computed batch-side (total spend) — the canonical dimension
    enrichment. Stateless in streaming terms (the static side is just a
    broadcast per micro-batch), so it stays append-mode with no watermark
    state; at 100 TB the static side is a broadcast dim or a pre-bucketed
    table, never stream state."""
    from cassandra_sql_spark.io import load

    stream = read_events_stream(spark, sf_dir)
    profile = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "user_total_cents"
            ),
            F.count(F.lit(1)).alias("user_n_events"),
        )
    )
    return stream.join(F.broadcast(profile), "user_id").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "user_total_cents",
        "user_n_events",
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming dedup: first (user, type, hour) observation wins; dedup
    state for a key is dropped once the watermark passes it (bounded state,
    unlike an unbounded dropDuplicates). Output restricted to the key so the
    result is deterministic and equals batch SELECT DISTINCT."""
    keyed = events.withWatermark("ts", watermark).select(
        "ts",
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
    )
    return keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hour_bucket"]
    ).select("user_id", "event_type", "hour_bucket")


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def sessionize(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user via applyInPandasWithState.

    A custom stateful operator (no batch-SQL equivalent): events more than
    ``gap_minutes`` apart open a new session; sessions close when the
    event-time timeout fires past the watermark.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )
            return
        times, values = [], []
        for pdf in batches:
            for t, v in zip(pdf["ts"], pdf["value"]):
                if pd.isna(t):
                    # an event-time session is undefined without a
                    # timestamp — same exclusion as the batch oracle's
                    # WHERE ts IS NOT NULL
                    continue
                times.append(int(t.value // 1000))
                values.append(float(v) if not pd.isna(v) else None)
        if not times:
            return
        order = sorted(range(len(times)), key=lambda i: times[i])
        closed = []
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us = last_us = times[order[0]]
            n, cents = 0, 0
        for i in order:
            t, v = times[i], values[i]
            if t - last_us > gap_us and n > 0:
                closed.append((start_us, last_us, n, cents))
                start_us, n, cents = t, 0, 0
            last_us = max(last_us, t)
            n += 1
            if v is not None:  # SQL SUM skips NULLs; COUNT(*) does not
                # half-up cents, matching the oracle's FLOOR(v*100+0.5)
                # (Python round() is half-to-even: 0.125 would diverge)
                cents += math.floor(v * 100 + 0.5)
        state.update((start_us, last_us, n, cents))
        state.setTimeoutTimestamp(last_us // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="us") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] / 100.0 for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


ANOMALY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

_WELFORD_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def anomalies(
    events: DataFrame,
    threshold: float = 3.0,
    min_n: int = 10,
    watermark: str = "2 hours",
    idle_minutes: int = 24 * 60,
) -> DataFrame:
    """Streaming per-user anomaly detection: emit events whose value is
    more than ``threshold`` sample standard deviations from that user's
    running mean (Welford online mean/variance as the per-key state).

    A second custom stateful operator beside ``sessionize`` — numeric
    state that EVOLVES per event rather than segmenting time. Each event
    is judged against the statistics of the events BEFORE it (in
    event-time order within the batch), then folded in; the first
    ``min_n`` events per user only warm the state. Idle keys are evicted
    by event-time timeout past the watermark, so state is bounded by the
    active-user set — the 100 TB/continuous operating concern.

    NOTE (Spark 4 API): ``transformWithStateInPandas`` is the successor
    API (ValueState + timers); its state-server protocol needs the
    protobuf package, absent in this environment, so the operator uses
    the stable ``applyInPandasWithState`` — the semantics and the state
    layout would carry over unchanged.
    """

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        rows = []
        for pdf in batches:
            for t, v in zip(pdf["ts"], pdf["value"]):
                if v is not None and not pd.isna(v):
                    rows.append((int(t.value // 1000), float(v)))
        if not rows:
            return
        rows.sort()
        if state.exists:
            n, mean, m2, last_us = state.get
        else:
            n, mean, m2, last_us = 0, 0.0, 0.0, 0
        out = []
        for t_us, v in rows:
            if n >= min_n and m2 > 0.0:
                std = (m2 / (n - 1)) ** 0.5
                z = (v - mean) / std if std > 0 else 0.0
                if abs(z) > threshold:
                    out.append((user_id, t_us, v, z, n))
            # Welford fold (numerically stable online mean/variance)
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
            last_us = max(last_us, t_us)
        state.update((n, mean, m2, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + idle_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "ts": [pd.Timestamp(r[1], unit="us") for r in out],
                    "value": [r[2] for r in out],
                    "zscore": [r[3] for r in out],
                    "n_seen": [r[4] for r in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=ANOMALY_SCHEMA,
            stateStructType=_WELFORD_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


DEBOUNCE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
    ]
)

_DEBOUNCE_STATE = StructType([StructField("last_us", LongType())])


def debounce(
    events: DataFrame, gap_minutes: int = 5
) -> DataFrame:
    """Streaming telemetry debounce: keep an event iff the previous RAW
    event of its (user, type) is more than ``gap_minutes`` older — the
    stateful twin of the batch LAG rule (event_debounce_audit). State
    per key is ONE int64 (the last raw event time), so at 100 TB the
    store is bounded by |users| x |types| regardless of event volume;
    a production deployment would add an event-time timeout to expire
    long-idle keys (the sessionize pattern) — at the fixture scale the
    8-byte states are cheaper than the timeout bookkeeping.

    Batch==stream equivalence holds per micro-batch-boundary caveat:
    events are processed in (ts, event_id) order WITHIN each batch and
    the carried state is the last raw timestamp, so an AvailableNow
    drain over a sorted (or single-batch) source reproduces the batch
    LAG decisions exactly; the kept SET is invariant to order within
    exact-timestamp ties (every tie after the first is dropped
    regardless of order). NULL ts carries no event time and NULL keys
    identify no stream — both excluded, like the batch oracle."""

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id, etype = key
        gap_us = gap_minutes * 60 * 1_000_000
        rows = []
        for pdf in batches:
            for t, e in zip(pdf["ts"], pdf["event_id"]):
                if pd.isna(t):
                    continue
                rows.append((int(t.value // 1000), int(e)))
        if not rows:
            return
        rows.sort()
        prev = state.get[0] if state.exists else None
        kept = []
        for t_us, _eid in rows:
            if prev is None or t_us - prev > gap_us:
                kept.append(t_us)
            prev = t_us
        state.update((prev,))
        if kept:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(kept),
                    "event_type": [etype] * len(kept),
                    "ts": [pd.Timestamp(t, unit="us") for t in kept],
                }
            )

    return (
        events.filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=DEBOUNCE_SCHEMA,
            stateStructType=_DEBOUNCE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MARKOV_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
    ]
)

_MARKOV_STATE = StructType(
    [
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
        StructField("last_type", StringType()),
    ]
)


def markov_transitions(events: DataFrame) -> DataFrame:
    """Streaming event-type transition extraction: emit (src, dst) for
    every consecutive pair of a user's events — the stateful twin of the
    batch LEAD rule (event_markov_transitions). State per user is the
    last event's (ts, event_id, type), so the store is bounded by
    |users| at any event volume; the downstream (src, dst) count/
    probability rollup is a tiny batch aggregate over the drained sink.

    Batch==stream equivalence: events are sorted by (ts, event_id)
    within each micro-batch and the carried state is the latest such
    triple, so an AvailableNow drain over a single-batch (or
    time-ordered) source reproduces the batch LEAD pairs exactly. NULL
    ts rows carry no event time and NULL user/type rows identify no
    chain — excluded on both sides."""

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = []
        for pdf in batches:
            for t, e, ty in zip(
                pdf["ts"], pdf["event_id"], pdf["event_type"]
            ):
                if pd.isna(t) or ty is None:
                    continue
                rows.append((int(t.value // 1000), int(e), str(ty)))
        if not rows:
            return
        rows.sort()
        prev = (
            (state.get[0], state.get[1], state.get[2])
            if state.exists
            else None
        )
        src, dst = [], []
        for tup in rows:
            if prev is not None:
                src.append(prev[2])
                dst.append(tup[2])
            prev = tup
        state.update(prev)
        if src:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(src),
                    "src": src,
                    "dst": dst,
                }
            )

    return (
        events.filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=MARKOV_SCHEMA,
            stateStructType=_MARKOV_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FIRSTSEEN_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", DateType()),
        StructField("is_new", IntegerType()),
    ]
)

_FIRSTSEEN_STATE = StructType(
    [
        StructField("first_day", IntegerType()),   # days since epoch
        # lateness floor: days <= floor_day are compacted out of the
        # emitted set and no longer accepted as late arrivals
        StructField("floor_day", IntegerType()),
        StructField("emitted", ArrayType(IntegerType())),
    ]
)


def first_seen_days(
    events: DataFrame, late_horizon_days: int = 366
) -> DataFrame:
    """Streaming new-vs-returning tagging: emit one (user, day, is_new)
    row per ACTIVE user-day — the stateful twin of the batch first-seen
    window (event_new_vs_returning). State per user is the corrected
    first-seen day, a lateness FLOOR, and the set of emitted days ABOVE
    the floor, so re-delivery of an already-emitted day is distinguished
    from LATE ARRIVAL of a not-yet-seen earlier day: re-deliveries are
    skipped, late earlier days are still emitted (never silently lost
    within the horizon) and first_day is corrected to the true minimum.

    BOUNDED STATE (r11 ADVICE: the bare emitted-day set grew one int32
    per user-day forever): after each batch the floor advances to
    ``max(emitted) - late_horizon_days`` and emitted days at or below it
    are compacted away — membership below the floor is implied. This is
    a per-user lateness watermark: a day arriving more than the horizon
    behind that user's newest emitted day is DROPPED (no longer
    accepted), the same contract as Spark's own withWatermark, chosen
    per-user because user clocks, not the global stream clock, drive
    this operator. State is therefore <= horizon int32s per user
    regardless of span. The AvailableNow single-batch drain used by
    stream_new_users_daily sees everything in one batch (floor starts
    unset), so batch==stream equivalence is unchanged. The daily rollup
    is a tiny batch aggregate over the drained sink.

    Batch==stream equivalence: is_new=1 on the user's first OBSERVED
    day (exactly one per user, so SUM(is_new) = |users| on both sides).
    When per-user days arrive in ascending order across batches — which
    the AvailableNow single-batch drain used by stream_new_users_daily
    guarantees — the first observed day IS the first active day, and
    the rollup equals the batch MIN(day) OVER (PARTITION BY user) rule
    exactly. Under cross-batch disorder, append mode cannot retract the
    already-emitted tag, so the new-user credit lands on the first
    observed day; every user-day row is still emitted exactly once.
    NULL ts/user rows identify no user-day and are excluded on both
    sides."""
    import datetime as _dt

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        days = set()
        for pdf in batches:
            for t in pdf["ts"]:
                if pd.isna(t):
                    continue
                days.add(int(t.value // 86_400_000_000_000))
        if not days:
            return
        if state.exists:
            first = state.get[0]
            floor = state.get[1]
            emitted = set(state.get[2])
        else:
            first, floor, emitted = None, None, set()
        # re-delivered days AND beyond-horizon late days drop here
        fresh = sorted(
            d
            for d in days - emitted
            if floor is None or d > floor
        )
        out_days, out_new = [], []
        for d in fresh:
            # exactly one is_new=1 per user: the first day ever emitted
            out_days.append(d)
            out_new.append(1 if first is None and d == fresh[0] else 0)
        if fresh:
            first = fresh[0] if first is None else min(first, fresh[0])
            emitted |= set(fresh)
            # advance the per-user lateness floor and compact below it
            hi = max(emitted)
            new_floor = hi - int(late_horizon_days)
            if floor is None or new_floor > floor:
                floor = new_floor
            emitted = {d for d in emitted if d > floor}
        state.update((first, floor, sorted(emitted)))
        if out_days:
            epoch = _dt.date(1970, 1, 1)
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_days),
                    "day": [
                        epoch + _dt.timedelta(days=d) for d in out_days
                    ],
                    "is_new": out_new,
                }
            )

    return (
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=FIRSTSEEN_SCHEMA,
            stateStructType=_FIRSTSEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
