"""Stream-time operators beyond the reference's surface.

The reference needs no stream windows (SURVEY.md §2.7 T6/T8: its 'series'
are calendar intervals and its state lives in the sink), but a complete
engine serves event streams too:

- :func:`windowed_event_counts` — event-time tumbling windows with a
  watermark: the canonical late-data-tolerant streaming aggregate
  (state bounded by the watermark horizon, emitted on watermark passage
  in append mode).
- :func:`sessionize` — gap-based session windows per key via
  ``applyInPandasWithState``: the custom-stateful-operator escape hatch
  for semantics tumbling/sliding windows can't express. State is one
  small tuple per key (micros + counters), so state size is O(active
  keys), not O(events); per-batch work is one Arrow exchange per key
  group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp,"
    " n_events int, total_value double"
)
#: timestamps as epoch micros — keep state columns to plain longs/doubles
SESSION_STATE_SCHEMA = "session_start long, last_ts long, n int, total double"


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time counts with late-data watermark (T6/T8
    upgrade). In append mode a window emits exactly once, when the
    watermark passes its end — replays and out-of-order arrivals inside
    the lateness horizon are absorbed by state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user via ``applyInPandasWithState``.

    A session closes when the next event of the same user arrives more
    than ``gap_minutes`` after the previous one; closed sessions are
    emitted immediately, the open tail is carried in state across
    micro-batches. (The trailing session of a finite stream stays open —
    flush policy is the caller's, as with any session store.)

    Late data: rows are event-time-sorted within each batch; an
    out-of-order row that arrives in a LATER batch with an event time at
    or before the open session's last event joins that session without
    rewinding its clock (``last`` is monotone), so a straggler can never
    reopen an already-measured gap. A straggler older than a session
    that ALREADY closed still lands in the open session — emitted
    sessions are immutable, the append-mode contract. State is one tuple
    per user and is never evicted (NoTimeout): an open session survives
    arbitrarily many micro-batches until its gap arrives.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start, last, n, total = state.get
        else:
            start, last, n, total = None, None, 0, 0.0
        closed: list[tuple] = []
        # concat ALL Arrow chunks, then ONE stable sort (r6 review: a
        # group spanning multiple chunks arrives in internals-dependent
        # chunk order; per-chunk sorting made the fold replay-dependent)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts", kind="mergesort")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(ts.value // 1000)  # pandas ns → epoch micros
                if start is None:
                    start, last, n, total = us, us, 1, float(value)
                elif us - last > gap_us:
                    closed.append((user_id, start, last, n, total))
                    start, last, n, total = us, us, 1, float(value)
                else:
                    # max: a cross-batch straggler joins the session but
                    # must not rewind its clock (see docstring)
                    last, n, total = max(last, us), n + 1, total + float(value)
        state.update((start, last, n, total))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_start", "session_end",
                    "n_events", "total_value",
                ],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_distinct_sketch(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "1 hour",
    m: int = 16,
) -> DataFrame:
    """Approx-distinct per tumbling window as a STREAMING HyperLogLog.

    Streaming append mode allows one stateful aggregation, and the batch
    HLL (plans/analytics_queries.py hll_user_distinct) uses two — bucket
    maxes, then the harmonic estimate. The streaming form flattens the
    sketch into COLUMNS of a single aggregate: ``max(rho) FILTER (bucket
    = i)`` per bucket, i.e. per-(window,type) state is exactly m small
    ints — bounded, mergeable, watermark-evictable — and the estimate is
    a stateless projection on top. This is the property that makes
    approx-distinct viable over infinite streams, where exact
    count(distinct) state would grow with the key universe.

    Same hash/rank/estimate arithmetic as the batch gate, so for the
    same rows both forms produce the SAME estimate (test-asserted).
    """
    from cruncher_spark.functions.text import portable_hash64
    from cruncher_spark.plans.analytics_queries import (
        _HLL_B,
        _HLL_C,
        _HLL_MAXRHO,
        _HLL_TERMS,
    )

    assert m == 1 << _HLL_B, "bucket count is pinned by the shared constants"
    hv = portable_hash64(F.col(key_col).cast("string"), salt="hll")
    r = F.shiftright(hv, _HLL_B)
    rho = F.when(r == 0, F.lit(_HLL_MAXRHO)).otherwise(
        F.log2(r.bitwiseAND(-r)).cast("int") + F.lit(1)
    )
    bucket = hv % m
    sketch = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            *[
                F.max(F.when(bucket == i, rho)).alias(f"b{i}")
                for i in range(m)
            ]
        )
    )
    terms = F.array(*[F.lit(t).cast("long") for t in _HLL_TERMS])
    bs = [F.col(f"b{i}") for i in range(m)]
    n_buckets = sum(b.isNotNull().cast("int") for b in bs)
    s = sum(
        F.coalesce(F.element_at(terms, b), F.lit(0).cast("long")) for b in bs
    ) + (F.lit(m) - n_buckets).cast("long") * F.lit(1 << 40)
    return sketch.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        n_buckets.alias("n_buckets"),
        (F.lit(float(_HLL_C)) / s).alias("hll_estimate"),
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Cross-micro-batch streaming dedup, state bounded by the watermark.

    The worker's in-batch ``dropDuplicates`` (SURVEY T5) only dedups rows
    that arrive in the SAME trigger; a replayed source (at-least-once
    queue redelivery) re-emits rows in a LATER batch, and those pass
    through. ``dropDuplicatesWithinWatermark`` keeps a keyed state entry
    until the event-time watermark passes the row's timestamp + horizon,
    so redeliveries inside the horizon are dropped exactly once while
    state stays bounded (the unwatermarked ``dropDuplicates`` on a stream
    would grow state with the key universe forever). Downstream, the
    batch-id ledger (merge/upsert.py) remains the exactly-once backstop
    for redeliveries OUTSIDE the horizon.

    Eviction cadence (pinned by test): the watermark advances on the
    batch AFTER an event arrives and state purges at that batch's END,
    so a beyond-horizon re-occurrence of a key passes through two
    batches after the event that advanced the watermark — duplicates are
    GUARANTEED dropped within the horizon and best-effort beyond it,
    exactly the dropDuplicatesWithinWatermark contract.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


VELOCITY_OUT_SCHEMA = (
    "user_id long, period_start long, n_events long"
)


def velocity_alerts(
    events: DataFrame,
    threshold: int = 3,
    period_minutes: int = 10,
) -> DataFrame:
    """Per-user event-velocity alerting: emit ONE alert the moment a
    user's event count within a fixed period first reaches ``threshold``
    — the fraud/abuse rate-monitor shape.

    State per user is a single (period_start, count, alerted) tuple —
    constant-size, carried across micro-batches, reset when events move
    to a later period, never evicted (NoTimeout). Rows are processed in
    event-time order within each batch so the crossing point is
    deterministic for replay/availableNow runs. Late data: a straggler
    from a period EARLIER than the current one is dropped from counting
    (its period's alert opportunity has passed); counting it into the
    current period would fire spurious alerts. This is the escape hatch for semantics
    neither windowed aggregates nor session windows express: the alert
    fires mid-window, exactly once, with cross-batch memory.

    Implemented on ``applyInPandasWithState``. Spark 4's successor API
    (``transformWithStateInPandas`` — named ``ValueState``/timers per
    key) expresses the identical operator, but its Python runner
    requires protobuf, which this environment lacks; the stable API
    carries the same state tuple with the same semantics.
    """
    period_us = period_minutes * 60 * 1_000_000

    def fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            period_start, n, alerted = state.get
        else:
            period_start, n, alerted = None, 0, False
        alerts: list[tuple[int, int, int]] = []
        # concat ALL Arrow chunks, then ONE sort: a shard batch spanning
        # multiple chunks arrives in internals-dependent chunk order, and
        # per-chunk sorting would make the fold replay-nondeterministic
        # (r6 review)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts", kind="mergesort")
            for ts in pdf["ts"]:
                us = int(ts.value // 1000)  # pandas ns → epoch micros
                p = us - us % period_us
                if period_start is None or p > period_start:
                    period_start, n, alerted = p, 0, False
                elif p < period_start:
                    # stale-period straggler from an earlier batch: its
                    # period's alert opportunity has passed — counting it
                    # into the CURRENT period would fire spurious alerts
                    continue
                n += 1
                if n >= threshold and not alerted:
                    alerted = True
                    alerts.append((user_id, period_start, n))
        state.update((period_start, n, alerted))
        if alerts:
            yield pd.DataFrame(
                alerts, columns=["user_id", "period_start", "n_events"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        VELOCITY_OUT_SCHEMA,
        "period_start long, n long, alerted boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_cms_sketch(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-window count-min sketch as a STREAMING aggregation — the
    frequency-tracking complement of :func:`windowed_distinct_sketch`
    (which answers "how many distinct"; this answers "how often is any
    given key", with CMS's one-sided overestimate).

    Each event hashes into d x w counters; the streaming state per
    (window) is bounded at d*w = 4096 count rows regardless of stream
    volume — the property that makes frequency tracking viable where
    exact per-key counts grow with the key universe. Append mode emits
    the window's sketch rows when the watermark closes it; PROBING is a
    deliberately separate batch step (:func:`cms_probe`) because
    enumerating candidate keys over an infinite stream is itself a
    second sketch problem (space-saving / Misra-Gries) — the emitted
    sketch is mergeable downstream exactly like the reference's
    externalized-state discipline.

    Hash family and dimensions are SHARED with the batch gate
    (plans/analytics_queries.py cms_heavy_hitters), so probing a closed
    window's streaming sketch reproduces the batch estimates bit-for-bit
    (test-asserted).
    """
    from cruncher_spark.plans.analytics_queries import _CMS_D, _CMS_W, _cms_rc

    return (
        events.withWatermark("ts", watermark)
        .select(
            "ts",
            F.explode(
                F.array(*[_cms_rc(F.col(key_col), r) for r in range(_CMS_D)])
            ).alias("rc"),
        )
        .groupBy(F.window("ts", window).alias("w"), F.col("rc.r"), F.col("rc.c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "r",
            "c",
            "cnt",
        )
    )


def cms_probe(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Estimate each candidate key's per-window frequency from CMS sketch
    rows (:func:`windowed_cms_sketch` output or any union of them —
    sketches with the same dimensions merge by summing counters).

    min-over-rows gives the classic one-sided overestimate. The sketch
    is SPARSE (only hit cells have rows), and an un-hit cell is a ZERO
    counter that must participate in the min (r6 review: an inner join
    dropped empty cells, so a key colliding with a hot key in one row
    but missing from another was estimated at the hot count instead of
    0) — so every (key, window, r) probe row is materialized via a
    windows cross join and left-joined, with absent cells coalesced to
    0. The sketch side is window x <=4096 rows — broadcast-sized for
    any realistic window count; candidates come from the caller (top-k
    tracker, dim table, investigation list).
    """
    from cruncher_spark.plans.analytics_queries import _CMS_D, _cms_rc

    # fresh aliases mint new attribute ids for the window list, so the
    # left join back onto the SAME sketch lineage resolves cleanly (a
    # bare self-join over e.g. a memory-sink view hits Spark's
    # conflicting-reference internal error)
    windows = sketch.select(
        F.col("window_start").alias("_ws"), F.col("window_end").alias("_we")
    ).distinct()
    probe = (
        keys.select(
            F.col(key_col),
            F.explode(
                F.array(*[_cms_rc(F.col(key_col), r) for r in range(_CMS_D)])
            ).alias("rc"),
        )
        .select(key_col, F.col("rc.r").alias("_r"), F.col("rc.c").alias("_c"))
        .crossJoin(F.broadcast(windows))
    )
    cond = (
        (F.col("_ws") == sketch["window_start"])
        & (F.col("_we") == sketch["window_end"])
        & (F.col("_r") == sketch["r"])
        & (F.col("_c") == sketch["c"])
    )
    return (
        probe.join(F.broadcast(sketch), cond, "left")
        .groupBy(
            F.col(key_col),
            F.col("_ws").alias("window_start"),
            F.col("_we").alias("window_end"),
        )
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )


def windowed_quantile_sketch(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(window, group) fixed-histogram quantile sketch as a STREAMING
    aggregation — the distribution-tracking member of the sketch family
    (HLL: distinct, CMS: frequency, this: quantiles).

    Values bin into the SAME 256 fixed-width buckets as the batch gate
    (plans/analytics_queries.py quantile_sketch), so state per (window,
    group) is bounded at 256 counter rows regardless of stream volume —
    exact streaming percentiles would buffer every value. Append mode
    emits a window's histogram when the watermark closes it; estimates
    come from the separate batch probe (:func:`quantile_probe`), and
    emitted histograms MERGE by summing counts per bin (union several
    days' output, probe once), the externalized-state discipline of the
    other sketches.
    """
    from cruncher_spark.plans.analytics_queries import _QS_BIN_W, _QS_BINS

    bin_col = F.least(
        F.floor(F.col(value_col) / _QS_BIN_W).cast("int"),
        F.lit(_QS_BINS - 1),
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col(group_col),
            bin_col.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "bin",
            "cnt",
        )
    )


def quantile_probe(
    sketch: DataFrame,
    group_col: str = "event_type",
    qs: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Quantile estimates per (window, group) from emitted histogram rows
    (:func:`windowed_quantile_sketch` output or any union of them —
    same-width histograms merge by summing counts per bin first, which
    the leading aggregate does implicitly).

    Same integer-exact estimator as the batch gate: the lower edge of
    the first bin whose cumulative count reaches ceil(q*n). The
    cumulative window partitions on (window, group) — bounded at 256
    rows per partition by construction, never a global sort.
    """
    from pyspark.sql.window import Window

    from cruncher_spark.plans.analytics_queries import _QS_BIN_W

    merged = sketch.groupBy("window_start", "window_end", group_col, "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    w_cum = Window.partitionBy("window_start", "window_end", group_col).orderBy(
        "bin"
    )
    w_all = Window.partitionBy("window_start", "window_end", group_col)
    ranked = merged.select(
        "window_start",
        "window_end",
        group_col,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )

    def q_est(q: float) -> F.Column:
        hit = F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin")
        )
        return (F.min(hit) * _QS_BIN_W).cast("long")

    return ranked.groupBy("window_start", "window_end", group_col).agg(
        F.max("n").alias("n"),
        *[
            q_est(q).alias(f"p{int(q * 100)}_est")
            for q in qs
        ],
    )
