"""Structured Streaming operator tests: windowed agg vs batch equivalence,
incremental catch-up, and gap-sessionization semantics."""

from __future__ import annotations

import math
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.streaming import events as ev


def run_foreach_batch_parquet(stream_df, out_dir, checkpoint_dir):
    """Exactly-once parquet sink via foreachBatch: each micro-batch is
    written to ``out_dir/batch=<id>``, deleting any partial directory of
    that batch first (the replay of a batch re-delivered after a crash
    between sink write and offset commit). With the checkpointed offsets
    this is the standard exactly-once recipe for a non-transactional
    file sink: batchId is the dedup key, the overwrite the idempotence."""

    def write_batch(df, batch_id):
        path = os.path.join(out_dir, f"batch={batch_id}")
        shutil.rmtree(path, ignore_errors=True)  # idempotent replay
        df.write.mode("overwrite").parquet(path)

    (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    ).start().awaitTermination()


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    out = ev.streaming_event_window_counts(spark, sf_dir, str(tmp_path))
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in out.collect()
    }
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100
            ).alias("sum_value"),
        )
    )
    want = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_incremental_mv_catches_up_new_files(spark, tmp_path):
    # Two micro-batches of files -> the second availableNow run reads ONLY
    # the new file (incremental refresh, unlike the reference's full
    # rematerialization in MaterializedViewRefreshJob).
    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df1.write.mode("append").parquet(str(src / "events.parquet"))

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double, props string, ts timestamp"
            )
            .parquet(str(src / "events.parquet"))
        )
        agg = ev.windowed_counts(stream)
        ev.run_available_now(agg, "inc_mv", str(tmp_path / "ckpt"))
        return {
            (r.window_start, r.event_type): r.n
            for r in spark.table("inc_mv").collect()
        }

    first = run()
    assert sum(first.values()) == 1
    df2 = df1.withColumn("event_id", F.lit(2)).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 10:30:00"))
    )
    df2.write.mode("append").parquet(str(src / "events.parquet"))
    second = run()
    assert sum(second.values()) == 2  # state carried + new file ingested


@pytest.mark.parametrize("gap_minutes", [30])
def test_sessionize_gap_semantics(spark, tmp_path, gap_minutes):
    rows = [
        # user 7: two sessions separated by a 2h gap
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 7, "view", 2.5, "{}"),
        (3, "2024-01-01 12:30:00", 7, "click", 4.0, "{}"),
        # user 8: one session
        (4, "2024-01-01 10:05:00", 8, "click", 10.0, "{}"),
        # watermark pusher: a much later event closes everything above
        (5, "2024-01-02 09:00:00", 9, "click", 0.5, "{}"),
    ]
    src = tmp_path / "sess_src"
    src.mkdir()
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.mode("append").parquet(str(src / "e.parquet"))
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, props string, ts timestamp"
    ).parquet(str(src / "e.parquet"))
    sess = ev.sessionize(stream, gap_minutes=gap_minutes, watermark="1 minute")
    ev.run_available_now(
        sess, "sessions_out", str(tmp_path / "sess_ckpt"), mode="append"
    )
    out = spark.table("sessions_out").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    # user 7's first session closed by the gap: 2 events, 3.5 total
    s7 = sorted(by_user.get(7, []), key=lambda r: r.session_start)
    assert len(s7) >= 1
    assert s7[0].n_events == 2 and s7[0].total_value == 3.5
    assert s7[0].session_start == pd.Timestamp("2024-01-01 10:00:00")
    assert s7[0].session_end == pd.Timestamp("2024-01-01 10:10:00")


def test_foreach_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch parquet sink: (a) drained output equals the batch
    read, (b) re-running against the SAME checkpoint writes nothing new
    (offsets committed -> exactly-once), (c) a simulated replay of a
    batch directory is idempotent."""
    import glob

    from cassandra_sql_spark.streaming import events as ev

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = ev.read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    run_foreach_batch_parquet(stream, out, ckpt)
    got = spark.read.parquet(f"{out}/batch=*")
    n = got.count()
    assert n == len(set(r.event_id for r in got.collect())), "dup rows"
    files_before = sorted(glob.glob(f"{out}/batch=*/part-*"))
    # rerun with the same checkpoint: no new input -> no new writes
    run_foreach_batch_parquet(stream, out, ckpt)
    assert sorted(glob.glob(f"{out}/batch=*/part-*")) == files_before
    assert spark.read.parquet(f"{out}/batch=*").count() == n


def test_session_window_stream_equals_batch(spark, sf_dir, tmp_path):
    """The BUILT-IN session_window operator: the drained complete-mode
    streaming result equals batch execution of the identical expression
    (one code path, two execution modes — the zero-UDF guarantee the
    custom applyInPandasWithState sessionize can't give)."""
    stream = ev.read_events_stream(spark, sf_dir)
    agg = ev.session_window_agg(stream, gap="30 minutes")
    ev.run_available_now(
        agg, "sesswin_test", str(tmp_path / "ckpt"), mode="complete"
    )
    got = {
        (r.session_start, r.user_id): (r.session_end, r.n_events, r.sum_value)
        for r in spark.table("sesswin_test").collect()
    }
    batch = ev.session_window_agg(load(spark, sf_dir, "events"))
    want = {
        (r.session_start, r.user_id): (r.session_end, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_session_window_gap_merges(spark, tmp_path):
    """Two events 29 minutes apart share a session; 31 minutes apart
    split; session_end = last event + gap."""
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0), 1.0),
            (1, datetime(2024, 1, 1, 10, 29), 2.0),
            (2, datetime(2024, 1, 1, 10, 0), 1.0),
            (2, datetime(2024, 1, 1, 10, 31), 2.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in ev.session_window_agg(df).collect()
    }
    assert out == {
        (1, pd.Timestamp("2024-01-01 10:00:00")): (
            pd.Timestamp("2024-01-01 10:59:00"),
            2,
        ),
        (2, pd.Timestamp("2024-01-01 10:00:00")): (
            pd.Timestamp("2024-01-01 10:30:00"),
            1,
        ),
        (2, pd.Timestamp("2024-01-01 10:31:00")): (
            pd.Timestamp("2024-01-01 11:01:00"),
            1,
        ),
    }


@pytest.mark.slow
def test_anomalies_welford_state_and_order(spark, tmp_path):
    """Per-user running z-score: 20 calm events warm the state, then a
    wild spike is flagged against the PRIOR statistics; a second batch
    continues from checkpointed state (the incremental contract)."""
    from cassandra_sql_spark.streaming import events as ev

    calm = [
        (i, f"2024-01-01 10:{i:02d}:00", 7, "m", 100.0 + (i % 3), "{}")
        for i in range(20)
    ]
    spike = [(90, "2024-01-01 10:40:00", 7, "m", 500.0, "{}")]
    other = [(91, "2024-01-01 10:41:00", 8, "m", 1.0, "{}")]  # too few: never flagged
    src = tmp_path / "anom_src"
    src.mkdir()

    def write(rows, name):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(str(src / "e.parquet"))

    write(calm + other, "b0")
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp"
    ).parquet(str(src / "e.parquet"))
    out = ev.anomalies(stream, threshold=3.0, min_n=10, watermark="1 minute")
    ckpt = str(tmp_path / "anom_ckpt")
    ev.run_available_now(out, "anomalies_out", ckpt, mode="append")
    assert spark.table("anomalies_out").count() == 0  # calm data: nothing

    # second batch: the spike arrives; state carried over the checkpoint
    write(spike, "b1")
    stream2 = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp"
    ).parquet(str(src / "e.parquet"))
    out2 = ev.anomalies(stream2, threshold=3.0, min_n=10, watermark="1 minute")
    ev.run_available_now(out2, "anomalies_out2", ckpt, mode="append")
    got = spark.table("anomalies_out2").collect()
    assert len(got) == 1
    r = got[0]
    assert r.user_id == 7 and r.value == 500.0 and r.n_seen == 20
    assert r.zscore > 3.0

def test_first_seen_late_day_emitted_not_lost(spark, tmp_path):
    """r10 advice: a later micro-batch delivering an EARLIER active day
    must still emit that user-day (the old high-water-mark state dropped
    it), while a re-delivered already-emitted day stays skipped; is_new
    fires exactly once per user."""
    src = tmp_path / "fs_src"
    src.mkdir()
    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp"
    )

    def write(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(str(src / "e.parquet"))

    # foreachBatch parquet sink: unlike the memory sink it supports
    # checkpoint RECOVERY, so the second drain resumes from committed
    # offsets with the per-user state carried over
    out, ckpt = str(tmp_path / "fs_sink"), str(tmp_path / "fs_ckpt")

    def drained():
        return {
            (r.user_id, str(r.day)): r.is_new
            for r in spark.read.parquet(out + "/batch=*").collect()
        }

    write([(1, "2024-01-10 09:00:00", 1, "click", 1.0, "{}"),
           (2, "2024-01-03 09:00:00", 2, "click", 1.0, "{}")])
    stream = spark.readStream.schema(schema).parquet(str(src / "e.parquet"))
    run_foreach_batch_parquet(ev.first_seen_days(stream), out, ckpt)
    assert drained() == {(1, "2024-01-10"): 1, (2, "2024-01-03"): 1}

    # batch 2: user 1's day 01-05 arrives LATE (earlier than the emitted
    # 01-10), plus a re-delivery of 01-10 itself
    write([(3, "2024-01-05 09:00:00", 1, "click", 1.0, "{}"),
           (4, "2024-01-10 12:00:00", 1, "view", 1.0, "{}")])
    stream2 = spark.readStream.schema(schema).parquet(str(src / "e.parquet"))
    run_foreach_batch_parquet(ev.first_seen_days(stream2), out, ckpt)
    # late day emitted exactly once, re-delivered day NOT re-emitted,
    # and the user's single is_new=1 credit stays on the first
    # observed day (append mode cannot retract it)
    assert drained() == {
        (1, "2024-01-10"): 1,
        (2, "2024-01-03"): 1,
        (1, "2024-01-05"): 0,
    }


def test_first_seen_state_bounded_by_late_horizon(spark, tmp_path):
    """r11 advice: the emitted-day set must not grow forever. With a
    small late_horizon_days, a day arriving more than the horizon behind
    the user's newest emitted day is dropped (the per-user lateness
    watermark), while a late day INSIDE the horizon is still emitted."""
    src = tmp_path / "fsb_src"
    src.mkdir()
    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp"
    )

    def write(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(str(src / "e.parquet"))

    out, ckpt = str(tmp_path / "fsb_sink"), str(tmp_path / "fsb_ckpt")

    def drained():
        return {
            (r.user_id, str(r.day)): r.is_new
            for r in spark.read.parquet(out + "/batch=*").collect()
        }

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src / "e.parquet"))
        run_foreach_batch_parquet(
            ev.first_seen_days(stream, late_horizon_days=5), out, ckpt
        )

    # batch 1: user 1 active on 01-01 and 01-20 -> floor = 01-15
    write([(1, "2024-01-01 09:00:00", 1, "click", 1.0, "{}"),
           (2, "2024-01-20 09:00:00", 1, "click", 1.0, "{}")])
    drain()
    assert drained() == {(1, "2024-01-01"): 1, (1, "2024-01-20"): 0}

    # batch 2: 01-10 is beyond the 5-day horizon behind 01-20 -> DROPPED;
    # 01-17 is inside the horizon -> emitted
    write([(3, "2024-01-10 09:00:00", 1, "click", 1.0, "{}"),
           (4, "2024-01-17 09:00:00", 1, "view", 1.0, "{}")])
    drain()
    assert drained() == {
        (1, "2024-01-01"): 1,
        (1, "2024-01-20"): 0,
        (1, "2024-01-17"): 0,
    }


def test_ohlc_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming OHLC bars drained in complete mode equal batch
    execution of the identical aggregation — min_by/max_by partials
    merge associatively, so micro-batch order cannot change the bars."""
    stream = ev.read_events_stream(spark, sf_dir)
    bars = ev.ohlc_stream(stream)
    ev.run_available_now(
        bars, "ohlc_test", str(tmp_path / "ckpt"), mode="complete"
    )
    got = {
        (r.day, r.event_type): (
            r.open, r.close, r.low, r.high, r.n_events, r.volume
        )
        for r in spark.table("ohlc_test").collect()
    }
    want = {
        (r.day, r.event_type): (
            r.open, r.close, r.low, r.high, r.n_events, r.volume
        )
        for r in ev.ohlc_stream(load(spark, sf_dir, "events")).collect()
    }
    assert got == want and len(got) > 0


def test_stream_sessionize_equals_batch_replica_on_fixtures(spark, sf_dir):
    """r7 verdict task #6: the rows-only stream_sessionize entry gets a
    stream==batch equality pin against the 30-min gap rule. Every
    session the drain emits must equal a batch-computed session tuple
    exactly (boundaries, counts, cent-exact totals); the only sessions
    allowed to be absent are each user's LAST one (it may remain open —
    whether the final-watermark timeout fires depends on how far the
    user's tail sits behind the stream's max event time)."""
    from cassandra_sql_spark.io import load
    from cassandra_sql_spark.queries import REGISTRY

    out = REGISTRY["stream_sessionize"].fn(spark, sf_dir).collect()
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.total_value * 100))
        for r in out
    }
    assert streamed, "drain emitted no closed sessions"

    rows = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .filter("ts IS NOT NULL")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    batch, last_per_user = set(), set()
    gap_s = 30 * 60
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: r.ts)
        sessions = []
        start = last = evs[0].ts
        n, cents = 0, 0
        for e in evs:
            if (e.ts - last).total_seconds() > gap_s and n > 0:
                sessions.append((uid, start, last, n, cents))
                start, n, cents = e.ts, 0, 0
            last = max(last, e.ts)
            n += 1
            # same half-up rule as the stream kernel and DuckDB oracle
            cents += math.floor(float(e.value) * 100 + 0.5)
        sessions.append((uid, start, last, n, cents))
        batch.update(sessions)
        last_per_user.add(sessions[-1])

    assert streamed <= batch, (
        f"streamed sessions not in batch: {sorted(streamed - batch)[:5]}"
    )
    missing = batch - streamed
    assert missing <= last_per_user, (
        f"non-final sessions missing from drain: "
        f"{sorted(missing - last_per_user)[:5]}"
    )


def test_stream_debounce_equals_batch_lag_rule(spark, sf_dir):
    """Every kept (user, type, ts) from the drained stream must equal
    the batch LAG-rule keep set exactly — the debounce kernel decides
    each event immediately, so there is no open-session caveat."""
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="deb-eq-")
    kept = ev.debounce(ev.read_events_stream(spark, sf_dir), gap_minutes=5)
    ev.run_available_now(kept, "deb_eq_q", ckpt, mode="append")
    got = {
        (r.user_id, r.event_type, r.ts)
        for r in spark.table("deb_eq_q").collect()
    }
    rows = (
        load(spark, sf_dir, "events")
        .filter(
            "ts IS NOT NULL AND user_id IS NOT NULL"
            " AND event_type IS NOT NULL"
        )
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r.user_id, r.event_type), []).append(
            (r.ts, r.event_id)
        )
    want = set()
    for (uid, et), evs in by_key.items():
        evs.sort()
        prev = None
        for ts, _eid in evs:
            if prev is None or (ts - prev).total_seconds() > 300:
                want.add((uid, et, ts))
            prev = ts
    assert got == want and got
