"""Stream-time operators: watermark windows + stateful sessionization."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from cruncher_spark.streaming.windows import sessionize, windowed_event_counts

EVENTS_SCHEMA = "user_id long, ts timestamp, event_type string, value double"
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture()
def event_batches(spark, tmp_path):
    """Two event files = two micro-batches (maxFilesPerTrigger=1).

    user 1: events at 0,10,20 min (batch1) then 100,110 (batch2) — the
    30-min gap closes session A inside batch2.
    user 2: events at 0 (batch1) and 5 (batch2) — one still-open session.
    """
    b1 = [(1, _ts(0), "click", 1.0), (1, _ts(10), "view", 2.0),
          (1, _ts(20), "click", 3.0), (2, _ts(0), "view", 5.0)]
    b2 = [(1, _ts(100), "click", 4.0), (1, _ts(110), "view", 1.5),
          (2, _ts(5), "click", 7.0)]
    d = tmp_path / "events_in"
    d.mkdir()
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))
    return d


def _run_stream(spark, src_df, sink_name, ckpt):
    q = (
        src_df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"SELECT * FROM {sink_name}")


def test_sessionize_closes_on_gap_and_carries_state(
    spark, tmp_path, event_batches
):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{event_batches}/*.parquet")
    )
    out = _run_stream(
        spark, sessionize(stream, gap_minutes=30), "sessions", tmp_path / "ck1"
    )
    rows = out.collect()
    # exactly one closed session: user 1's batch-1 events, closed by the
    # 80-min gap straddling the batch boundary (state carried across)
    assert len(rows) == 1
    s = rows[0]
    assert s.user_id == 1 and s.n_events == 3
    assert s.session_start == _ts(0) and s.session_end == _ts(20)
    assert s.total_value == pytest.approx(6.0)


def test_windowed_counts_emit_on_watermark(spark, tmp_path, event_batches):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{event_batches}/*.parquet")
    )
    out = _run_stream(
        spark,
        windowed_event_counts(stream, window="1 hour", watermark="10 minutes"),
        "wincounts",
        tmp_path / "ck2",
    )
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in out.collect()
    }
    # after batch 2 the watermark (max ts 01:50 - 10 min) passed the
    # 00:00-01:00 window, so exactly that window was emitted, per type
    assert (T0, "click") in got and (T0, "view") in got
    assert got[(T0, "click")][0] == 3  # users 1+1+2 clicks in hour 0
    assert got[(T0, "view")][0] == 2
    # the 01:00 window is still open (watermark 01:40 < 02:00)
    assert all(ws == T0 for ws, _ in got)


def test_windowed_distinct_sketch_matches_batch_hll(spark, tmp_path):
    """The streaming single-aggregation HLL produces the SAME estimate as
    computing the sketch on the data in batch — the mergeable-columns
    flattening changes the plan shape, not the math. Late rows inside the
    watermark horizon land in their window; windows emit on watermark
    passage (append mode)."""
    from cruncher_spark.streaming.windows import windowed_distinct_sketch

    rows = []
    for i in range(300):
        # 2 hours of events, ~97 distinct users, two types
        rows.append(
            ((i * 7) % 97, _ts(i % 120), "click" if i % 3 else "view", 1.0)
        )
    # batch 2 carries late-but-in-horizon rows plus a watermark pusher
    b1, b2 = rows[:200], rows[200:] + [(999, _ts(600), "click", 1.0)]
    d = tmp_path / "hll_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    got = _run_stream(
        spark,
        windowed_distinct_sketch(stream, watermark="10 minutes"),
        "hll_sketch_sink",
        tmp_path / "ckpt_hll",
    ).collect()

    batch_df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    want = {
        (r.window_start, r.window_end, r.event_type): r.hll_estimate
        for r in windowed_distinct_sketch(batch_df).collect()
    }
    got_map = {
        (r.window_start, r.window_end, r.event_type): r.hll_estimate
        for r in got
        if r.event_type != "click" or r.window_start.hour < 5
    }
    # every closed window's streaming estimate equals the batch estimate
    assert got_map
    for k, v in got_map.items():
        assert k in want and abs(v - want[k]) < 1e-9, k


def test_dedup_within_watermark_drops_cross_batch_replay(spark, tmp_path):
    """A row redelivered in a LATER micro-batch (at-least-once queue
    semantics) is dropped by watermark-bounded streaming dedup — the case
    per-batch dropDuplicates cannot catch."""
    from cruncher_spark.streaming.windows import dedup_within_watermark

    schema = "event_id long, ts timestamp, event_type string, value double"
    b1 = [(1, _ts(0), "click", 1.0), (2, _ts(1), "view", 2.0)]
    # batch 2 REPLAYS event 2 and adds a fresh event 3
    b2 = [(2, _ts(1), "view", 2.0), (3, _ts(2), "click", 3.0)]
    d = tmp_path / "replay_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2]):
        spark.createDataFrame(rs, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    out = _run_stream(
        spark,
        dedup_within_watermark(stream, keys=["event_id"]),
        "deduped_stream",
        tmp_path / "ck_dedup",
    )
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2, 3]  # event 2 emitted once despite the replay


def test_velocity_alert_fires_once_across_batches(spark, tmp_path):
    """transformWithStateInPandas velocity monitor: the alert fires the
    moment the in-period count first reaches the threshold — including
    when the crossing event arrives in a LATER micro-batch — and never
    fires twice for one (user, period)."""
    from cruncher_spark.streaming.windows import velocity_alerts

    b1 = [(1, _ts(0), "click", 1.0), (1, _ts(1), "click", 1.0),
          (2, _ts(0), "view", 1.0)]
    # batch 2: user 1's 3rd event in the same 10-min period crosses the
    # threshold (state carried); the 4th must not re-alert; user 2 stays
    # below; user 1's event in a LATER period starts a fresh count
    b2 = [(1, _ts(2), "click", 1.0), (1, _ts(3), "click", 1.0),
          (1, _ts(30), "click", 1.0)]
    d = tmp_path / "vel_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    out = _run_stream(
        spark,
        velocity_alerts(stream, threshold=3, period_minutes=10),
        "velocity",
        tmp_path / "ck_vel",
    )
    rows = [(r.user_id, r.period_start, r.n_events) for r in out.collect()]
    period0 = int(T0.timestamp()) * 1_000_000
    assert rows == [(1, period0, 3)]


def test_sessionize_late_straggler_joins_without_rewinding_clock(
    spark, tmp_path
):
    """Three micro-batches with a LATE interleaving: batch 2 delivers an
    out-of-order event older than the open session's last event. It must
    join the open session (count/total) WITHOUT rewinding the session
    clock — so the 80-min gap measured in batch 3 still closes the
    session at its true last event time, and state survives all three
    batches unevicted."""
    b1 = [(1, _ts(0), "click", 1.0), (1, _ts(10), "view", 2.0),
          (1, _ts(20), "click", 3.0)]
    b2 = [(1, _ts(15), "late", 0.5)]          # straggler: 15 < last=20
    b3 = [(1, _ts(100), "click", 4.0)]        # 100-20=80 > 30 → close
    d = tmp_path / "late_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2, b3]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    out = _run_stream(
        spark, sessionize(stream, gap_minutes=30), "late_sessions",
        tmp_path / "ck_late",
    )
    rows = out.collect()
    assert len(rows) == 1
    s = rows[0]
    # straggler counted, clock NOT rewound: end stays at minute 20
    assert s.n_events == 4 and s.total_value == pytest.approx(6.5)
    assert s.session_start == _ts(0) and s.session_end == _ts(20)


def test_velocity_stale_period_straggler_cannot_fire_spurious_alert(
    spark, tmp_path
):
    """A straggler from an ALREADY-PASSED period must not count toward
    the current period: user 1 sits at n=2 in the current period when a
    late event from the previous period arrives — without the stale
    guard that would tip n to 3 and fire a spurious alert. User 2's
    genuine in-period crossing still fires."""
    from cruncher_spark.streaming.windows import velocity_alerts

    b1 = [(1, _ts(1), "click", 1.0), (1, _ts(2), "click", 1.0)]
    b2 = [(1, _ts(12), "click", 1.0), (1, _ts(13), "click", 1.0),
          (2, _ts(11), "click", 1.0), (2, _ts(12), "click", 1.0)]
    b3 = [(1, _ts(3), "late", 1.0),           # stale: period 0 < period 10
          (2, _ts(14), "click", 1.0)]         # genuine 3rd → alert
    d = tmp_path / "vel_late_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2, b3]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    out = _run_stream(
        spark,
        velocity_alerts(stream, threshold=3, period_minutes=10),
        "vel_late",
        tmp_path / "ck_vel_late",
    )
    rows = sorted((r.user_id, r.n_events) for r in out.collect())
    period10 = int(_ts(10).timestamp()) * 1_000_000
    assert rows == [(2, 3)]
    assert {r.period_start for r in out.collect()} == {period10}


def test_streaming_dedup_drops_cross_batch_redelivery(spark, tmp_path):
    """A key redelivered in a LATER micro-batch with a DIFFERENT event
    time (broker redelivery) is dropped while inside the watermark
    horizon; state is evicted once the watermark passes, so a far-future
    re-occurrence of the key flows through again."""
    from cruncher_spark.streaming.windows import dedup_within_watermark

    b1 = [(1, _ts(0), "click", 1.0), (2, _ts(1), "view", 2.0)]
    b2 = [(1, _ts(2), "click", 1.0),            # redelivery, new ts → drop
          (3, _ts(3), "click", 3.0)]
    # eviction is two batches behind the advancing event: the watermark
    # moves on the batch AFTER the event, and state is purged at that
    # batch's END — so the re-occurrence goes two batches later
    b3 = [(4, _ts(590), "view", 1.0)]           # advances event-time high mark
    b4 = [(5, _ts(591), "view", 1.0)]           # watermark 9:20 → eviction runs
    b5 = [(1, _ts(600), "click", 9.0)]          # state evicted → passes
    d = tmp_path / "dedup_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2, b3, b4, b5]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    out = _run_stream(
        spark,
        dedup_within_watermark(stream, ["user_id"], watermark="30 minutes"),
        "sdedup",
        tmp_path / "ck_sdedup",
    )
    got = sorted((r.user_id, r.ts) for r in out.collect())
    assert got == [(1, _ts(0)), (1, _ts(600)), (2, _ts(1)), (3, _ts(3)),
                   (4, _ts(590)), (5, _ts(591))]


def test_windowed_cms_sketch_matches_batch_estimates(spark, tmp_path):
    """The streaming per-window count-min sketch, probed offline, must
    reproduce the batch CMS estimates bit-for-bit for every CLOSED
    window (shared hash family/dimensions), with late-but-in-horizon
    rows landing in their window. State per window is d*w counter rows,
    never per-key."""
    from cruncher_spark.plans.analytics_queries import _CMS_D, _CMS_W, _cms_rc
    from cruncher_spark.streaming.windows import cms_probe, windowed_cms_sketch

    rows = []
    for i in range(400):
        # heavy user 7, moderate 13, long tail
        uid = 7 if i % 3 == 0 else (13 if i % 5 == 0 else (i % 50) + 100)
        rows.append((uid, _ts(i % 110), "click", 1.0))
    b1, b2 = rows[:250], rows[250:] + [(999, _ts(600), "click", 1.0)]
    d = tmp_path / "cms_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    # 3h watermark: batch-2's late rows (ts 0-110 min) must land INSIDE
    # the horizon while their windows are still open — CMS counters are
    # exact, so a dropped late row would show as a counted mismatch
    # (unlike the HLL test, where saturated bucket maxes forgive drops)
    sketch_rows = _run_stream(
        spark,
        windowed_cms_sketch(stream, watermark="3 hours"),
        "cms_sketch_sink",
        tmp_path / "ckpt_cms",
    )
    closed = sketch_rows.where(F.col("window_start") < _ts(300))
    assert closed.count() > 0
    # bounded state: never more than d*w counter rows per window
    per_window = {
        r.window_start: r.n
        for r in closed.groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(n <= _CMS_D * _CMS_W for n in per_window.values())

    # batch truth: same sketch math over all rows, per window
    batch = spark.createDataFrame(rows, EVENTS_SCHEMA)
    batch_sketch = (
        batch.select(
            F.window("ts", "1 hour").alias("w"),
            F.explode(
                F.array(*[_cms_rc(F.col("user_id"), r) for r in range(_CMS_D)])
            ).alias("rc"),
        )
        .groupBy(F.col("w.start").alias("window_start"),
                 F.col("w.end").alias("window_end"), "rc.r", "rc.c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    keys = batch.select("user_id").distinct()
    want = {
        (r.user_id, r.window_start): r.cms_est
        for r in cms_probe(batch_sketch, keys).collect()
    }
    got = {
        (r.user_id, r.window_start): r.cms_est
        for r in cms_probe(closed, keys).collect()
    }
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    # one-sided error: the estimate never undercounts the exact frequency
    exact = {
        (r.user_id, r.ws): r.n
        for r in batch.select(
            "user_id", F.window("ts", "1 hour").start.alias("ws")
        )
        .groupBy("user_id", "ws")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for (uid, ws), est in got.items():
        assert est >= exact.get((uid, ws), 0), (uid, ws)


def test_windowed_quantile_sketch_matches_batch_estimates(spark, tmp_path):
    """The streaming per-window histogram, probed offline, must reproduce
    the batch fixed-histogram quantile estimates bit-for-bit for every
    CLOSED window (shared bin width/count), with late-but-in-horizon
    rows landing in their window. State per (window, group) is <= 256
    bin rows, never per-value."""
    from cruncher_spark.plans.analytics_queries import _QS_BIN_W, _QS_BINS
    from cruncher_spark.streaming.windows import (
        quantile_probe,
        windowed_quantile_sketch,
    )

    rows = []
    for i in range(400):
        et = "click" if i % 2 == 0 else "view"
        rows.append(((i % 50) + 100, _ts(i % 110), et, float((i * 7) % 300)))
    b1, b2 = rows[:250], rows[250:] + [(999, _ts(600), "click", 5.0)]
    d = tmp_path / "qs_in"
    d.mkdir()
    for i, rs in enumerate([b1, b2]):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"batch_{i}.parquet"))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*.parquet")
    )
    sketch_rows = _run_stream(
        spark,
        windowed_quantile_sketch(stream, watermark="3 hours"),
        "qs_sketch_sink",
        tmp_path / "ckpt_qs",
    )
    closed = sketch_rows.where(F.col("window_start") < _ts(300))
    assert closed.count() > 0
    per_wg = {
        (r.window_start, r.event_type): r.n
        for r in closed.groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(n <= _QS_BINS for n in per_wg.values())

    # batch truth: same histogram math over all rows, per window
    batch = spark.createDataFrame(rows, EVENTS_SCHEMA)
    bin_col = F.least(
        F.floor(F.col("value") / _QS_BIN_W).cast("int"), F.lit(_QS_BINS - 1)
    )
    batch_sketch = (
        batch.select(
            F.window("ts", "1 hour").alias("w"), "event_type",
            bin_col.alias("bin"),
        )
        .groupBy(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "bin",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = {
        (r.window_start, r.event_type): (r.n, r.p50_est, r.p95_est)
        for r in quantile_probe(batch_sketch).collect()
        if r.window_start < _ts(300)
    }
    got = {
        (r.window_start, r.event_type): (r.n, r.p50_est, r.p95_est)
        for r in quantile_probe(closed).collect()
    }
    assert want and got == want
