"""Event-analytics operators: sessionization and sketch aggregates.

The reference's schema has no event-log queries (SURVEY §2.5: no windows /
sorts / limits in the worker SQL), but any production deployment of a
stats cruncher grows them; these gates cover the two shapes that matter at
100 TB:

- **sessionization** via Spark's native ``session_window`` — gap-merged
  sessions are a single hash shuffle on the group key plus an in-partition
  sort (no self-join, no windowed subquery); the oracle is the classic
  gaps-and-islands ``lag``/running-``sum`` SQL, proving the native operator
  against the portable formulation.
- **HyperLogLog distinct sketch** built from first principles as a plain
  aggregate: md5-bucketed trailing-zero ranks, ``max`` per bucket, one
  closed-form estimate. ``max`` is map-side combinable, so the sketch
  state shuffled per group is exactly m integers — the mergeable-sketch
  property that makes approx-distinct feasible where exact
  ``count(distinct)`` would shuffle every value. Every step is integer
  arithmetic (the one double division is of exactly-represented integers),
  so DuckDB reproduces the estimate bit-for-bit — the gate hash-checks an
  *approximate* algorithm exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.functions.text import portable_hash64
from cruncher_spark.plans.registry import register
from cruncher_spark.session import tune
from cruncher_spark.sources import Star

# ---------------------------------------------------------------------------
# sessionization (gap = 30 min)
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


@register(
    "session_windows",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
      FROM events
    ),
    flagged AS (
      SELECT *,
        CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w >= {_GAP_US}
             THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess_seq
      FROM flagged
    )
    SELECT user_id,
      MIN(ts_us) AS start_us,
      MAX(ts_us) AS end_us,
      MAX(ts_us) - MIN(ts_us) AS duration_us,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(event_type = 'click' AS INT)) AS BIGINT) AS n_clicks,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sess_seq
    """,
    doc="Gap-based sessionization (30 min) via Spark's native session_window "
    "aggregate — one hash shuffle on user_id + in-partition sort, sessions "
    "merged streamingly per group (the same operator powers the streaming "
    "path with watermarks). Oracle is the portable gaps-and-islands "
    "lag/running-sum SQL; a session starts when the gap >= 30 min, "
    "matching session_window's [ts, ts+gap) extension semantics.",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    sw = F.session_window("ts", "30 minutes")
    return (
        events.groupBy("user_id", sw)
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
                "duration_us"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "click").cast("int"))
            .cast("long")
            .alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .drop("session_window")
    )


# ---------------------------------------------------------------------------
# histogram quantile sketch (fixed bins, mergeable counters)
# ---------------------------------------------------------------------------

_QS_BIN_W = 2          # bin width: halving a double is IEEE-exact
_QS_BINS = 256         # domain [0, 512) + clamp bin for outliers


@register(
    "quantile_sketch",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             LEAST(CAST(FLOOR(value / {_QS_BIN_W}) AS INT), {_QS_BINS - 1}) AS bin
      FROM events
    ),
    c AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    w AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
      CAST(MAX(n) AS BIGINT) AS n,
      CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN bin END) * {_QS_BIN_W} AS BIGINT) AS p50_est,
      CAST(MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN bin END) * {_QS_BIN_W} AS BIGINT) AS p95_est
    FROM w GROUP BY event_type
    """,
    doc="Fixed-histogram quantile sketch: values bin into 256 fixed-width "
    "buckets, per-group state is just the bin counters — map-side "
    "combinable and MERGEABLE (sum histograms to combine partitions/"
    "days), unlike exact percentile's full-value sort-shuffle. Quantile "
    "estimate = lower edge of the first bin whose cumulative count "
    "reaches ceil(q*n); every step integer-exact (bin width 2 halves "
    "doubles exactly), so the DuckDB oracle reproduces the estimates "
    "bit-for-bit — the same gate trick as the HLL sketch.",
)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    events = Star(spark, sf_dir).events
    bin_col = F.least(
        F.floor(F.col("value") / _QS_BIN_W).cast("int"), F.lit(_QS_BINS - 1)
    )
    counts = (
        events.select("event_type", bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    ranked = counts.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )

    def q_est(q: float) -> F.Column:
        hit = F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin")
        )
        return (F.min(hit) * _QS_BIN_W).cast("long")

    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        q_est(0.5).alias("p50_est"),
        q_est(0.95).alias("p95_est"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (m = 16 buckets, deterministic)
# ---------------------------------------------------------------------------

_HLL_B = 4                      # bucket bits
_HLL_M = 1 << _HLL_B            # 16 buckets
_HLL_RBITS = 60 - _HLL_B        # rank source bits (portable_hash64 is 60-bit)
_HLL_MAXRHO = _HLL_RBITS + 1    # rho when the rank field is all zeros
#: 2^(40-rho) term per rho in 1.._HLL_MAXRHO — the harmonic sum scaled by
#: 2^40 so it stays exact integer arithmetic (rho > 40 truncates to 0; at
#: rho 40 the term is already 1e-12 of the leading term)
_HLL_TERMS = [1 << (40 - r) if r <= 40 else 0 for r in range(1, _HLL_MAXRHO + 1)]
#: alpha_16 * m^2 * 2^40 as one pre-evaluated double literal, so both
#: engines divide the same two exactly-known numbers
_HLL_C = repr(0.673 * _HLL_M * _HLL_M * float(1 << 40))

_HLL_H = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#hll'), 1, 15) AS BIGINT)"
_HLL_TERM_SQL = "[" + ", ".join(str(t) for t in _HLL_TERMS) + "]"


@register(
    "hll_user_distinct",
    oracle=f"""
    WITH h AS (
      SELECT event_type, {_HLL_H} AS hv FROM events
    ),
    br AS (
      SELECT event_type, hv % {_HLL_M} AS bucket,
        CASE WHEN (hv >> {_HLL_B}) = 0 THEN {_HLL_MAXRHO}
             ELSE CAST(log2((hv >> {_HLL_B}) & -(hv >> {_HLL_B})) AS INT) + 1
        END AS rho
      FROM h
    ),
    sketch AS (
      SELECT event_type, bucket, MAX(rho) AS m_rho
      FROM br GROUP BY event_type, bucket
    ),
    est AS (
      SELECT event_type,
        COUNT(*) AS n_buckets,
        MAX(m_rho) AS max_rho,
        SUM({_HLL_TERM_SQL}[m_rho])
          + ({_HLL_M} - COUNT(*)) * {1 << 40} AS s
      FROM sketch GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
      GROUP BY event_type
    )
    SELECT e.event_type, x.n_exact, e.n_buckets, e.max_rho,
           {_HLL_C} / s AS hll_estimate
    FROM est e JOIN exact x USING (event_type)
    """,
    doc="HyperLogLog approx-distinct as a first-principles aggregate: "
    "60-bit md5 hash -> 4-bit bucket + trailing-zero rank, max-rank per "
    "bucket (map-side combinable: per-group shuffle state is exactly 16 "
    "ints regardless of input rows), closed-form estimate from an "
    "integer-exact harmonic sum. At 100 TB this replaces count(distinct)'s "
    "full-value shuffle with a constant-size mergeable sketch; exact "
    "count(distinct) included for error inspection.",
)
def hll_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    hv = portable_hash64(F.col("user_id").cast("string"), salt="hll")
    r = F.shiftright(hv, _HLL_B)
    rho = F.when(r == 0, F.lit(_HLL_MAXRHO)).otherwise(
        F.log2(r.bitwiseAND(-r)).cast("int") + F.lit(1)
    )
    sketch = (
        events.select("event_type", (hv % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    terms = F.array(*[F.lit(t).cast("long") for t in _HLL_TERMS])
    est = sketch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("m_rho").alias("max_rho"),
        (
            F.sum(F.element_at(terms, F.col("m_rho")))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 40)
        ).alias("s"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "n_buckets",
        "max_rho",
        (F.lit(float(_HLL_C)) / F.col("s")).alias("hll_estimate"),
    )


@register(
    "hll_overlap",
    oracle=f"""
    WITH h AS (
      SELECT event_type, {_HLL_H} AS hv FROM events
    ),
    br AS (
      SELECT event_type, hv % {_HLL_M} AS bucket,
        CASE WHEN (hv >> {_HLL_B}) = 0 THEN {_HLL_MAXRHO}
             ELSE CAST(log2((hv >> {_HLL_B}) & -(hv >> {_HLL_B})) AS INT) + 1
        END AS rho
      FROM h
    ),
    sketch AS (
      SELECT event_type, bucket, MAX(rho) AS m_rho
      FROM br GROUP BY event_type, bucket
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    contrib AS (
      SELECT p.type_a, p.type_b, s.bucket, s.m_rho
      FROM pairs p JOIN sketch s ON s.event_type = p.type_a
      UNION ALL
      SELECT p.type_a, p.type_b, s.bucket, s.m_rho
      FROM pairs p JOIN sketch s ON s.event_type = p.type_b
    ),
    usk AS (
      SELECT type_a, type_b, bucket, MAX(m_rho) AS m_rho
      FROM contrib GROUP BY type_a, type_b, bucket
    ),
    est1 AS (
      SELECT event_type,
        SUM({_HLL_TERM_SQL}[m_rho])
          + ({_HLL_M} - COUNT(*)) * {1 << 40} AS s
      FROM sketch GROUP BY event_type
    ),
    estu AS (
      SELECT type_a, type_b,
        SUM({_HLL_TERM_SQL}[m_rho])
          + ({_HLL_M} - COUNT(*)) * {1 << 40} AS s
      FROM usk GROUP BY type_a, type_b
    ),
    du AS (SELECT DISTINCT event_type, user_id FROM events),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_exact_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           COALESCE(x.n_exact_overlap, 0) AS n_exact_overlap,
           ({_HLL_C} / ea.s + {_HLL_C} / eb.s) - {_HLL_C} / eu.s
             AS overlap_estimate
    FROM pairs p
    JOIN est1 ea ON ea.event_type = p.type_a
    JOIN est1 eb ON eb.event_type = p.type_b
    JOIN estu eu ON eu.type_a = p.type_a AND eu.type_b = p.type_b
    LEFT JOIN exact x ON x.type_a = p.type_a AND x.type_b = p.type_b
    """,
    doc="HLL set algebra (r7): audience overlap between every event-type "
    "pair by inclusion-exclusion over MERGED sketches — the union sketch "
    "is the bucket-wise MAX of the two per-type sketches, which is the "
    "whole point of HLL at 100 TB: per-type sketches built once (16 ints "
    "each) compose into any pair/rollup WITHOUT re-scanning events, "
    "where exact overlap needs a distinct-user self-join per pair. "
    "Estimate arithmetic stays integer-exact to three IEEE divisions "
    "(the hll_user_distinct discipline); the exact overlap rides along "
    "for error inspection.",
)
def hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    hv = portable_hash64(F.col("user_id").cast("string"), salt="hll")
    r = F.shiftright(hv, _HLL_B)
    rho = F.when(r == 0, F.lit(_HLL_MAXRHO)).otherwise(
        F.log2(r.bitwiseAND(-r)).cast("int") + F.lit(1)
    )
    # per-type sketch: types x 16 rows — eagerly materialized once, every
    # branch below (self-pairing, two contrib joins, per-type estimates)
    # reads the tiny table instead of re-scanning events
    sketch = (
        events.select(
            "event_type", (hv % _HLL_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
        .localCheckpoint(eager=True)
    )
    types = sketch.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("type_a")).join(
        types.select(F.col("event_type").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    contrib = pairs.join(
        sketch, sketch.event_type == F.col("type_a")
    ).select("type_a", "type_b", "bucket", "m_rho").unionByName(
        pairs.join(
            sketch, sketch.event_type == F.col("type_b")
        ).select("type_a", "type_b", "bucket", "m_rho")
    )
    usk = contrib.groupBy("type_a", "type_b", "bucket").agg(
        F.max("m_rho").alias("m_rho")
    )
    terms = F.array(*[F.lit(t).cast("long") for t in _HLL_TERMS])

    def est_s():
        return (
            F.sum(F.element_at(terms, F.col("m_rho")))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 40)
        ).alias("s")

    est1 = sketch.groupBy("event_type").agg(est_s())
    estu = usk.groupBy("type_a", "type_b").agg(est_s())
    du = events.select("event_type", "user_id").distinct()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact_overlap"))
    )
    c = F.lit(float(_HLL_C))
    return (
        pairs.join(
            est1.select(F.col("event_type").alias("type_a"), F.col("s").alias("sa")),
            "type_a",
        )
        .join(
            est1.select(F.col("event_type").alias("type_b"), F.col("s").alias("sb")),
            "type_b",
        )
        .join(estu.withColumnRenamed("s", "su"), ["type_a", "type_b"])
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("n_exact_overlap", F.lit(0).cast("long")).alias(
                "n_exact_overlap"
            ),
            ((c / F.col("sa") + c / F.col("sb")) - c / F.col("su")).alias(
                "overlap_estimate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# funnel analysis (view -> click -> purchase, strictly ordered)
# ---------------------------------------------------------------------------


@register(
    "funnel_steps",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM e),
    s1 AS (
      SELECT user_id, MIN(ts_us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1
    )
    SELECT u.user_id, t1, t2, t3,
      CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
        + CAST(t3 IS NOT NULL AS INT) AS furthest
    FROM u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    doc="Ordered funnel (view -> click -> purchase): per user, the earliest "
    "strictly-increasing step times and the furthest step reached. ONE "
    "shuffle on user_id: per-user events are collected sorted and scanned "
    "with a higher-order aggregate (JVM lambda, zero Python) carrying "
    "(t1,t2,t3) state — vs the portable oracle's three join+min passes "
    "(one shuffle per step). Per-user state is bounded by events-per-user, "
    "the same bound sessionization already assumes; a pathological "
    "celebrity user routes through the salted-join pattern.",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    e = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("ev"),
    )
    per_user = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list("ev")).alias("seq")
    )
    init = F.struct(
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("t2"),
        F.lit(None).cast("long").alias("t3"),
    )

    def step(acc, ev):
        # strictly-after semantics (ts > previous step) match the oracle's
        # `ts_us > t1` joins; same-timestamp events cannot advance the
        # funnel, so the within-timestamp scan order is irrelevant and the
        # result is deterministic
        return (
            F.when(
                (ev.et == "view") & acc.t1.isNull(),
                F.struct(
                    ev.ts_us.alias("t1"), acc.t2.alias("t2"), acc.t3.alias("t3")
                ),
            )
            .when(
                (ev.et == "click")
                & acc.t1.isNotNull()
                & acc.t2.isNull()
                & (ev.ts_us > acc.t1),
                F.struct(
                    acc.t1.alias("t1"), ev.ts_us.alias("t2"), acc.t3.alias("t3")
                ),
            )
            .when(
                (ev.et == "purchase")
                & acc.t2.isNotNull()
                & acc.t3.isNull()
                & (ev.ts_us > acc.t2),
                F.struct(
                    acc.t1.alias("t1"), acc.t2.alias("t2"), ev.ts_us.alias("t3")
                ),
            )
            .otherwise(acc)
        )

    scanned = per_user.select(
        "user_id", F.aggregate("seq", init, step).alias("f")
    )
    return scanned.select(
        "user_id",
        F.col("f.t1").alias("t1"),
        F.col("f.t2").alias("t2"),
        F.col("f.t3").alias("t3"),
        (
            F.col("f.t1").isNotNull().cast("int")
            + F.col("f.t2").isNotNull().cast("int")
            + F.col("f.t3").isNotNull().cast("int")
        ).alias("furthest"),
    )


# ---------------------------------------------------------------------------
# cohort retention (first-seen day x day offset)
# ---------------------------------------------------------------------------


@register(
    "cohort_retention",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    first AS (
      SELECT user_id, MIN(d) AS cohort_d FROM ud GROUP BY 1
    )
    SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
      CAST(date_diff('day', cohort_d, d) AS INT) AS day_offset,
      CAST(COUNT(*) AS BIGINT) AS n_active
    FROM ud JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-active day, "
    "activity counted per day offset. (user, day) pairs are deduped "
    "FIRST, so the cohort join carries one row per user-day and the "
    "final cell count is a plain count(*) — no count(distinct) expand "
    "shuffle. The dedup, the min-day agg, and the join all hash on "
    "user_id, so AQE/exchange-reuse keeps it to one logical "
    "repartitioning of the fact.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    ud = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = ud.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        ud.join(first, "user_id")
        .groupBy(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_d").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# trailing 1-hour per-user rolling window
# ---------------------------------------------------------------------------

_ROLL_US = 3_600_000_000  # 1 hour in microseconds


@register(
    "rolling_window_agg",
    oracle=f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN {_ROLL_US} PRECEDING AND CURRENT ROW
    )
    """,
    doc="Per-event trailing 1-hour window (count + sum of value) via a "
    "RANGE frame over unix-micros event time: one hash shuffle on "
    "user_id + in-partition sort, the frame slides without self-joining "
    "the fact (the naive formulation is an O(rows x window) "
    "inequality self-join). Value summed as DECIMAL(18,6) inside the "
    "frame so both engines produce bit-identical doubles. RANGE (not "
    "ROWS) so same-timestamp peers agree between engines.",
)
def rolling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    events = Star(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_ROLL_US, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# count-min-sketch heavy hitters (deterministic, one-sided error)
# ---------------------------------------------------------------------------

_CMS_D = 4       # hash rows
_CMS_W = 1024    # counters per row
_CMS_THETA = 0.008  # heavy-hitter threshold as a fraction of total rows

_CMS_H = (
    "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cms' || r), 1, 15)"
    " AS BIGINT)"
)
_CMS_H_PROBE = (
    "CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '#cms' || rs.r),"
    " 1, 15) AS BIGINT)"
)


def _cms_rc(key: F.Column, r: int) -> F.Column:
    """(row, counter) struct for one CMS hash row of the batch gate."""
    return F.struct(
        F.lit(r).alias("r"),
        (portable_hash64(key.cast("string"), salt=f"cms{r}") % _CMS_W).alias(
            "c"
        ),
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH total AS (SELECT COUNT(*) AS n FROM events),
    rs AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
    pairs AS (
      SELECT r, {_CMS_H} % {_CMS_W} AS c FROM events CROSS JOIN rs
    ),
    sketch AS (SELECT r, c, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2),
    users AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1),
    probe AS (
      SELECT u.user_id, u.n_exact, MIN(s.cnt) AS cms_est
      FROM users u CROSS JOIN rs
      JOIN sketch s ON s.r = rs.r AND s.c = {_CMS_H_PROBE} % {_CMS_W}
      GROUP BY 1, 2
    )
    SELECT user_id, CAST(n_exact AS BIGINT) AS n_exact,
      CAST(cms_est AS BIGINT) AS cms_est
    FROM probe, total
    WHERE cms_est >= CAST(ceil({_CMS_THETA} * n) AS BIGINT)
    """,
    doc="Heavy hitters (users with estimated frequency >= 0.8% of all "
    "events) via a count-min sketch built as a plain aggregate: each row "
    "hashes into 4 x 1024 counters, per-(row,col) counts are map-side "
    "combinable, so the shuffled sketch state is CONSTANT-SIZE (4096 "
    "ints) regardless of input rows — the mergeable building block for "
    "windowed/streaming frequency tracking where exact per-key counts "
    "would shuffle every key. The probe side broadcasts the sketch and "
    "takes min-over-rows (classic CMS one-sided overestimate); exact "
    "counts ride along for error inspection. Same integer-exact-"
    "determinism gate trick as the HLL sketch: md5-derived hashes make "
    "DuckDB reproduce every counter bit-for-bit.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events

    def rc(r: int) -> F.Column:
        return _cms_rc(F.col("user_id"), r)

    pairs = events.select(
        F.explode(F.array(*[rc(r) for r in range(_CMS_D)])).alias("rc")
    ).select("rc.r", "rc.c")
    sketch = pairs.groupBy("r", "c").agg(F.count(F.lit(1)).alias("cnt"))

    users = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    probe = users.select(
        "user_id",
        "n_exact",
        F.explode(F.array(*[rc(r) for r in range(_CMS_D)])).alias("rc"),
    ).select("user_id", "n_exact", "rc.r", "rc.c")
    est = (
        probe.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("cms_est"))
    )
    total = events.agg(F.count(F.lit(1)).alias("n"))
    return (
        est.crossJoin(F.broadcast(total))
        .where(
            F.col("cms_est")
            >= F.ceil(F.lit(_CMS_THETA) * F.col("n")).cast("long")
        )
        .select("user_id", "n_exact", "cms_est")
    )


# ---------------------------------------------------------------------------
# top-k per group (rank window after aggregation)
# ---------------------------------------------------------------------------


@register(
    "topk_per_group",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, n, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY n DESC, user_id
      ) AS rk FROM c
    ) t WHERE rk <= 5
    """,
    doc="Top-5 users per event type by activity: aggregate FIRST (map-side "
    "combined count bounds the window input to distinct (type,user) "
    "pairs), then a row_number rank window with a deterministic "
    "tie-break. Ranking raw events would sort the whole fact per group; "
    "ranking the aggregate sorts only distinct keys. For top-k over a "
    "fact-scale key space, the TakeOrdered per-partition heap pattern "
    "(operators/retrieval.py BM25 top-k) is the fallback.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    events = Star(spark, sf_dir).events
    counts = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    return counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 5
    )


# ---------------------------------------------------------------------------
# pivot / unpivot (wide <-> long reshaping)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


@register(
    "pivot_event_counts",
    oracle=f"""
    SELECT user_id,
      {", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {t}" for t in _EVENT_TYPES
      )}
    FROM events GROUP BY user_id
    """,
    doc="Long->wide pivot: per-user event counts as one column per event "
    "type. The pivot value list is FIXED (not discovered), so there is "
    "no extra driver-side distinct scan and the plan is a single hash "
    "aggregate with map-side combine — pivot at 100 TB is exactly as "
    "cheap as the groupBy it wraps when the key list is known. Empty "
    "cells filled 0 to match the oracle's CASE-sum rendering.",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, list(_EVENT_TYPES))
    )


@register(
    "unpivot_event_counts",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    doc="Wide->long unpivot (melt): the pivoted per-user matrix stacked "
    "back to (user_id, event_type, n) rows, zero cells dropped — the "
    "round trip reproduces the plain groupBy exactly. unpivot is a "
    "per-row Expand (no shuffle beyond the input's); the oracle is the "
    "direct long-form aggregate.",
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    wide = pivot_event_counts(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["user_id"],
            values=list(_EVENT_TYPES),
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .where(F.col("n") > 0)
    )


# ---------------------------------------------------------------------------
# semi-structured: typed JSON extraction from the props payload column
# ---------------------------------------------------------------------------


@register(
    "json_props_agg",
    oracle="""
    WITH p AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type,
      COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      MIN(k) AS min_k,
      MAX(k) AS max_k,
      CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
    FROM p GROUP BY event_type
    """,
    doc="Semi-structured payload processing: the events.props JSON string "
    "parsed ONCE per row with from_json against an explicit schema — a "
    "single JVM-side Jackson parse feeding whole-stage codegen, vs "
    "get_json_object re-parsing the document per extracted path (the "
    "per-path trap at 100 TB: N paths = N parses). The typed struct "
    "then aggregates like any column. Oracle is DuckDB json_extract.",
)
def json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    parsed = events.select(
        "event_type", F.from_json("props", "k int").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.count_distinct(F.col("p.k")).alias("n_distinct_k"),
    )


# ---------------------------------------------------------------------------
# time-series gap filling: dense daily calendar per key, zeros for quiet days
# ---------------------------------------------------------------------------


@register(
    "gap_fill_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(d) AS mn, MAX(d) AS mx FROM daily GROUP BY 1
    ),
    cal AS (
      SELECT event_type, CAST(g AS DATE) AS d
      FROM bounds, LATERAL unnest(generate_series(mn, mx, INTERVAL 1 DAY)) t(g)
    )
    SELECT c.event_type, strftime(c.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(n, 0) AS BIGINT) AS n
    FROM cal c LEFT JOIN daily USING (event_type, d)
    """,
    doc="Time-series gap filling: per-type daily counts densified over "
    "each type's [min, max] day span, quiet days zero-filled — the "
    "make-the-calendar-then-left-join pattern every charting/forecast "
    "consumer needs. The calendar derives from the AGGREGATE (one row "
    "per type, sequence() exploded JVM-side), so the dense frame costs "
    "O(types x days), never a scan-sized generate; the fill join hashes "
    "on (type, day) like the aggregate before it.",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("mn"), F.max("d").alias("mx")
    )
    cal = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx")).alias("d"),
    )
    return cal.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
    )


# ---------------------------------------------------------------------------
# global running sum WITHOUT a single-partition window (two-pass prefix sum)
# ---------------------------------------------------------------------------


@register(
    "global_running_sum",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER
             (ORDER BY epoch_us(ts), event_id
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
      CAST(COUNT(*) OVER (ORDER BY epoch_us(ts), event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
    FROM events
    """,
    doc="Globally-ordered cumulative sum via the distributed TWO-PASS "
    "prefix-sum: a bare `SUM() OVER (ORDER BY ts)` window moves the "
    "entire fact to ONE partition (Spark even warns) — the classic "
    "scale cliff. Instead: partition by day, window WITHIN each day "
    "(per-partition sort only), then add each day's cumulative offset "
    "computed from the tiny per-day totals (O(days) rows, windowed "
    "cheaply and broadcast back). Identical semantics to the oracle's "
    "single global window; DECIMAL(18,6) running sums keep every "
    "partial bit-identical across engines.",
)
def global_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    events = Star(spark, sf_dir).events
    e = events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.to_date("ts").alias("d"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w_day = (
        Window.partitionBy("d")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = e.select(
        "event_id",
        "ts_us",
        "d",
        F.sum("v").over(w_day).alias("rv_day"),
        F.count(F.lit(1)).over(w_day).alias("rn_day"),
    )
    day_totals = e.groupBy("d").agg(
        F.sum("v").alias("dv"), F.count(F.lit(1)).alias("dn")
    )
    w_days = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_totals.select(
        "d",
        F.coalesce(F.sum("dv").over(w_days), F.lit(0).cast("decimal(18,6)")).alias("off_v"),
        F.coalesce(F.sum("dn").over(w_days), F.lit(0)).alias("off_n"),
    )
    return within.join(F.broadcast(offsets), "d").select(
        "event_id",
        "ts_us",
        (F.col("rv_day") + F.col("off_v")).cast("double").alias("running_value"),
        (F.col("rn_day") + F.col("off_n")).cast("long").alias("running_n"),
    )


# ---------------------------------------------------------------------------
# event-sequence pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

#: (pattern_name, regex over 1-char event codes c/e/p/s/v =
#: click/error/purchase/signup/view). Plain regex syntax only — must mean
#: the same thing to Java's regex engine (Spark) and RE2 (DuckDB).
_EVENT_PATTERNS = [
    ("view_click_purchase", "v+cp"),
    ("signup_to_purchase", "s[vce]*p"),
    ("error_burst", "e{3,}"),
]

_PATTERN_ROWS = ", ".join(f"('{n}', '{p}')" for n, p in _EVENT_PATTERNS)


@register(
    "event_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT p.pattern_name, len(regexp_extract_all(seq.s, p.pat)) AS m
      FROM seq, (VALUES {_PATTERN_ROWS}) p(pattern_name, pat)
    )
    SELECT pattern_name,
           CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
           CAST(SUM(m) AS BIGINT) AS n_matches
    FROM m GROUP BY pattern_name
    """,
    doc="MATCH_RECOGNIZE-lite event-sequence pattern matching (the Flink "
    "CEP / Trino MATCH_RECOGNIZE shape): per-user ordered event codes "
    "folded into one string with a single hash shuffle, patterns applied "
    "as regexes via regexp_count over a broadcast pattern dim. Per-user "
    "state is bounded by that user's activity; no self-joins, no "
    "per-step join chains (compare funnel_steps' oracle: one join per "
    "funnel stage). Ties broken by event_id so the fold is deterministic.",
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    # order within the collected array, not the shuffle: array_sort on
    # (ts, event_id, code) structs gives a deterministic per-user sequence
    # regardless of partitioning/merge order
    seq = (
        events.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["c"]),
            ).alias("s")
        )
    )
    pats = spark.createDataFrame(_EVENT_PATTERNS, "pattern_name string, pat string")
    matched = seq.join(F.broadcast(pats)).select(
        "pattern_name", F.regexp_count("s", F.col("pat")).alias("m")
    )
    return matched.groupBy("pattern_name").agg(
        F.sum((F.col("m") > 0).cast("int")).cast("long").alias("n_users"),
        F.sum("m").cast("long").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# window-function suite (lag/lead/rank/ntile/running max)
# ---------------------------------------------------------------------------


@register(
    "window_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           row_number() OVER w AS rn,
           ntile(4) OVER w AS quartile,
           max(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS run_max,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
             AS price_rank
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="The analytic window-function surface in one gate: lag/lead, "
    "row_number, ntile, frame-bounded running max, and a second ordering "
    "(rank by price) sharing the same partition key. One hash exchange on "
    "the partition key serves every function (Spark collapses same-key "
    "window specs into one sort); per-customer state is bounded by that "
    "customer's orders — no global sort, no one-partition cliff.",
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    orders = Star(spark, sf_dir).orders.where(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.max("o_totalprice").over(w_run).alias("run_max"),
        F.rank().over(w_price).alias("price_rank"),
    )


# ---------------------------------------------------------------------------
# time-series resample + linear interpolation
# ---------------------------------------------------------------------------

_RS_BUCKET_US = 300 * 1_000_000  # 5-minute buckets


@register(
    "resample_interpolate",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_RS_BUCKET_US}) AS BIGINT) AS b,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type, CAST(g AS BIGINT) AS b
      FROM (SELECT event_type, min(b) AS lo, max(b) AS hi
            FROM agg GROUP BY event_type) s,
           unnest(range(s.lo, s.hi + 1)) t(g)
    ),
    j AS (
      SELECT g.event_type, g.b, a.v FROM grid g
      LEFT JOIN agg a ON a.event_type = g.event_type AND a.b = g.b
    ),
    ctx AS (
      SELECT event_type, b, v,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
          OVER wp AS pb,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
          OVER wn AS nb,
        first_value(v IGNORE NULLS) OVER wn AS nv
      FROM j
      WINDOW
        wp AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, b,
      CASE WHEN v IS NOT NULL THEN v
           WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
             (pv * CAST(nb - b AS DOUBLE) + nv * CAST(b - pb AS DOUBLE))
               / CAST(nb - pb AS DOUBLE)
           ELSE coalesce(pv, nv) END AS value_filled,
      CAST(v IS NULL AS BOOLEAN) AS interpolated
    FROM ctx
    """,
    doc="Time-series downsample to 5-min buckets + LINEAR interpolation of "
    "empty buckets (the resample/fill every monitoring and forecasting "
    "pipeline needs). Bucket means use DECIMAL partial sums so both "
    "engines agree bit-for-bit, the dense grid is derived from the "
    "AGGREGATE's min/max (O(types x buckets) sequence explode, never a "
    "scan-sized generate), and the neighbor lookup is two frame-bounded "
    "ignoreNulls window passes over one per-series exchange — no "
    "self-join on inequality, no per-gap subqueries.",
)
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    events = Star(spark, sf_dir).events
    agg = (
        events.select(
            "event_type",
            F.floor(F.unix_micros("ts") / _RS_BUCKET_US).alias("b"),
            F.col("value").cast("decimal(18,6)").alias("dv"),
        )
        .groupBy("event_type", "b")
        .agg(
            (
                F.sum("dv").cast("double") / F.count(F.lit(1))
            ).cast("double").alias("v")
        )
    )
    grid = (
        agg.groupBy("event_type")
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("b"),
        )
    )
    j = grid.join(agg, ["event_type", "b"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_b = F.when(F.col("v").isNotNull(), F.col("b"))
    ctx = j.select(
        "event_type",
        "b",
        "v",
        F.last(known_b, ignorenulls=True).over(wp).alias("pb"),
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.first(known_b, ignorenulls=True).over(wn).alias("nb"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
    )
    interp = (
        F.col("pv") * (F.col("nb") - F.col("b")).cast("double")
        + F.col("nv") * (F.col("b") - F.col("pb")).cast("double")
    ) / (F.col("nb") - F.col("pb")).cast("double")
    return ctx.select(
        "event_type",
        "b",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .otherwise(F.coalesce("pv", "nv"))
        .alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


# ---------------------------------------------------------------------------
# per-series z-score anomaly detection
# ---------------------------------------------------------------------------


@register(
    "series_anomalies",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      -- moments in DECIMAL so n*sq - s*s can NEVER wrap (BIGINT s*s wraps
      -- silently in Spark past ~3e9 total events/type); widths chosen so
      -- every product stays within 38 digits in BOTH engines: daily
      -- counts < 1e14, totals < 1e18, days < 1e8 — far beyond 100 TB
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(n_events AS DECIMAL(14,0))) AS DECIMAL(18,0)) AS s,
             CAST(SUM(CAST(n_events AS DECIMAL(14,0))
                      * CAST(n_events AS DECIMAL(14,0))) AS DECIMAL(29,0)) AS sq
      FROM daily GROUP BY event_type
    ),
    stats2 AS (
      SELECT event_type, n, s,
             CAST(CAST(n AS DECIMAL(8,0)) * sq AS DECIMAL(38,0))
               - CAST(s * s AS DECIMAL(38,0)) AS var_num
      FROM stats
    )
    SELECT d.event_type, strftime(d.d, '%Y-%m-%d') AS day, d.n_events,
      CASE WHEN st.var_num > 0 THEN
        (CAST(d.n_events AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
          / sqrt(CAST(st.var_num AS DOUBLE)
                 / (CAST(st.n AS DOUBLE) * st.n))
      ELSE 0.0 END AS zscore,
      CASE WHEN st.var_num > 0 THEN
        abs(CAST(d.n_events AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
          > 2.0 * sqrt(CAST(st.var_num AS DOUBLE)
                       / (CAST(st.n AS DOUBLE) * st.n))
      ELSE FALSE END AS is_anomaly
    FROM daily d JOIN stats2 st USING (event_type)
    """,
    doc="Per-series z-score outlier detection over daily event counts — "
    "the monitoring primitive. Moments are kept in INTEGER arithmetic "
    "(count/sum/sum-of-squares; population variance as the exact integer "
    "n*sq - s*s) until the final double division and sqrt — both "
    "correctly-rounded IEEE ops — so two engines produce bit-identical "
    "zscores without any tolerance. One aggregation per series plus a "
    "broadcast join of the tiny stats side back onto the daily rows; "
    "zero-variance series emit zscore 0, never a division by zero.",
)
def series_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    events = Star(spark, sf_dir).events
    daily = (
        events.select("event_type", F.col("ts").cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    dn = F.col("n_events").cast("decimal(14,0)")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dn).cast("decimal(18,0)").alias("s"),
        F.sum(dn * dn).cast("decimal(29,0)").alias("sq"),
    )
    # integer-exact moments in DECIMAL: BIGINT s*s wraps silently in
    # Spark's non-ANSI mode past ~3e9 total events per series; these
    # widths keep every product within 38 digits in both engines
    var_num = (
        (F.col("n").cast("decimal(8,0)") * F.col("sq")).cast("decimal(38,0)")
        - (F.col("s") * F.col("s")).cast("decimal(38,0)")
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(
        var_num.cast("double") / (F.col("n").cast("double") * F.col("n"))
    )
    dev = F.col("n_events").cast("double") - mean
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.when(var_num > 0, dev / std).otherwise(F.lit(0.0)).alias("zscore"),
        F.when(var_num > 0, F.abs(dev) > 2.0 * std)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# incremental materialized view (gate over the merge/materialize layer)
# ---------------------------------------------------------------------------


@register(
    "incremental_view",
    oracle="""
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(value) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           MIN(value) AS lo,
           MAX(value) AS hi,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / COUNT(value) AS DOUBLE) AS mean
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental materialized view maintained from TWO disjoint "
    "batches (split by event_id parity) through the PointTable merge "
    "layer, then read back — must equal the oracle's one-shot aggregate "
    "exactly. Merge rules are derived from the aggregate algebra "
    "(sum/count -> null-safe ADD, min/max -> LEAST/GREATEST, avg -> "
    "(sum,count) decomposition); DECIMAL partials keep the fold "
    "bit-exact and order-independent. This is the generalization of the "
    "reference's hand-wired ON DUPLICATE KEY UPDATE tables, gated "
    "end-to-end against a stateless recompute.",
)
def incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from cruncher_spark.merge.materialize import IncrementalView, Measure

    tune(spark)
    # one engine-owned state dir per dataset, recreated per run — repeated
    # gate/bench invocations must not leak an unbounded set of /tmp trees
    state_dir = os.path.join(
        tempfile.gettempdir(),
        f"cruncher_iv_{hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]}",
    )
    shutil.rmtree(state_dir, ignore_errors=True)
    events = Star(spark, sf_dir).events.select(
        "event_id",
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("dv"),
        "value",
    )
    view = IncrementalView(
        spark,
        state_dir,
        keys=["event_type", "day"],
        measures={
            "n": Measure("count", "dv"),
            "total": Measure("sum", "dv"),
            "lo": Measure("min", "value"),
            "hi": Measure("max", "value"),
            "mean": Measure("avg", "dv"),
        },
    )
    # both batch slices project the same scan; persist it so the second
    # refresh reads the cached projection instead of rescanning the fact
    # table
    events = events.persist()
    try:
        view.refresh(events.where(F.col("event_id") % 2 == 0), batch_id="even")
        view.refresh(events.where(F.col("event_id") % 2 == 1), batch_id="odd")
    finally:
        events.unpersist()
    return view.read().select(
        "event_type",
        "day",
        "n",
        F.col("total").cast("double").alias("total"),
        "lo",
        "hi",
        F.col("mean").cast("double").alias("mean"),
    )
