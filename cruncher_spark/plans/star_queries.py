"""SURVEY.md §2 operator inventory expressed over the driver star schema.

Every query here is one operator family of the reference re-expressed
Spark-first (DataFrame/Catalyst), with a DuckDB oracle that is the *plain
ANSI-SQL* statement of the same semantics. Reference sites cited per query.

Cross-engine exactness: cent-valued doubles are summed as DECIMAL(18,2)
(exact, order-independent) and cast back to double — see
``cruncher_spark.functions.scalars.dsum``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.functions.scalars import dsum
from cruncher_spark.operators import (
    band_join,
    cooccurrence_pairs,
    grouping_sets_rollup,
    grouping_sets_sql,
    interval_join,
)
from cruncher_spark.plans.registry import register
from cruncher_spark.session import tune
from cruncher_spark.sources import Star


def _star(spark: SparkSession, sf_dir: str) -> Star:
    tune(spark)
    return Star(spark, sf_dir)


# ---------------------------------------------------------------------------
# decimal-exact measure expressions shared by several queries
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


def _disc_price() -> F.Column:
    # l_extendedprice * (1 - l_discount), exact in cents
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )


_ORACLE_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# J3/A1-A7: the flagship — 'all'-row cube as native GROUPING SETS
# ---------------------------------------------------------------------------

_ROLLUP_DIMS = ["l_returnflag", "l_linestatus", "ship_year"]
_ROLLUP_LABELS, _ROLLUP_GROUP_BY = grouping_sets_sql(_ROLLUP_DIMS)


@register(
    "global_rollup",
    oracle=f"""
    SELECT
      {_ROLLUP_LABELS},
      COUNT(*) AS played,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM({_ORACLE_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_discount > 0.05 AS INT)) AS BIGINT) AS discounted,
      CAST(ROUND(SUM(CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_tax_rounded
    FROM (SELECT *, CAST(year(l_shipdate) AS INT) AS ship_year FROM lineitem)
    {_ROLLUP_GROUP_BY}
    """,
    doc="J3→GROUPING SETS rewrite of the 'all'-row cube (crunch_global.sql:41-45,65); "
    "measures A2 count, A3 bool→int sum, A4 plain sums, A7 round(sum).",
)
def global_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _star(spark, sf_dir).lineitem.withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return grouping_sets_rollup(
        li,
        dims=_ROLLUP_DIMS,
        aggs=[
            F.count(F.lit(1)).alias("played"),
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum((F.col("l_discount") > 0.05).cast("int")).alias("discounted"),
            F.round(F.sum(F.col("l_tax").cast(_DEC))).cast("double").alias("sum_tax_rounded"),
        ],
    )


# ---------------------------------------------------------------------------
# J4: constrained grouping sets — dims that must never cross
# ---------------------------------------------------------------------------

_CONSTRAINED_SETS = [("l_returnflag",), ("l_linestatus",), ()]
_CONSTR_LABELS, _CONSTR_GROUP_BY = grouping_sets_sql(
    ["l_returnflag", "l_linestatus"], _CONSTRAINED_SETS
)


@register(
    "constrained_rollup",
    oracle=f"""
    SELECT
      {_CONSTR_LABELS},
      COUNT(*) AS played,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    {_CONSTR_GROUP_BY}
    """,
    doc="J4: partial grouping sets — the crunch_player constraint that role is only "
    "specific when hero is 'all' (never hero x role, crunch_player.sql:39).",
)
def constrained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _star(spark, sf_dir).lineitem
    return grouping_sets_rollup(
        li,
        dims=["l_returnflag", "l_linestatus"],
        sets=_CONSTRAINED_SETS,
        aggs=[F.count(F.lit(1)).alias("played"), dsum("l_quantity", "sum_qty")],
    )


# ---------------------------------------------------------------------------
# P1/P6: micro-batch key filter + in-batch dedup → one batch's partial delta
# ---------------------------------------------------------------------------


@register(
    "batch_delta",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      COUNT(*) AS played,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM({_ORACLE_DISC_PRICE}) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="P1 batch-key IN filter (crunch_global.sql:63) + P6 in-batch dedup "
    "(worker.js:121,145) + A1 partial aggregate: one micro-batch's delta rows.",
)
def batch_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    # the "arriving ids" of one micro-batch; dropDuplicates = worker's Set dedup
    batch_keys = (
        star.orders.filter((F.col("o_orderkey") % 97) == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"))
        .dropDuplicates(["l_orderkey"])
    )
    return (
        star.lineitem.join(batch_keys, "l_orderkey", "inner")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("played"),
            dsum("l_quantity", "sum_qty"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
        )
    )


# ---------------------------------------------------------------------------
# J5: interval/temporal join — overlapping series membership
# ---------------------------------------------------------------------------

_SERIES_ROWS = [
    ("week1", "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
    ("week2", "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
    ("january", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
    ("all_time", "1970-01-01 00:00:00", "2100-01-01 00:00:00"),
]
_SERIES_VALUES = ", ".join(
    f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in _SERIES_ROWS
)


@register(
    "series_interval_join",
    oracle=f"""
    SELECT s.series_name, e.event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (VALUES {_SERIES_VALUES}) s(series_name, start_ts, end_ts)
      ON e.ts >= s.start_ts AND e.ts < s.end_ts
    GROUP BY s.series_name, e.event_type
    """,
    doc="J5 interval join: overlapping calendar series each match "
    "(p_s.created_at BETWEEN s.start AND s.end, crunch_global.sql:40) — "
    "broadcast range join, fact side never shuffled.",
)
def series_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    series = spark.createDataFrame(
        _SERIES_ROWS, "series_name string, start_s string, end_s string"
    ).select(
        "series_name",
        F.to_timestamp("start_s").alias("start_ts"),
        F.to_timestamp("end_s").alias("end_ts"),
    )
    joined = interval_join(
        star.events, series, point="ts", start="start_ts", end="end_ts"
    ).where(F.col("ts") < F.col("end_ts"))  # half-open, deterministic at boundaries
    return joined.groupBy("series_name", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


@register(
    "interval_bin_join",
    oracle=f"""
    SELECT s.series_name, e.event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (VALUES {_SERIES_VALUES}) s(series_name, start_ts, end_ts)
      ON e.ts >= s.start_ts AND e.ts < s.end_ts
    GROUP BY s.series_name, e.event_type
    """,
    doc="The SAME interval-join semantics as series_interval_join through "
    "the large-x-large physical strategy: intervals explode to 7-day bins, "
    "points map to exactly one bin, and the containment join becomes a "
    "shuffle equi-join on bin id with the precise predicate re-checked — "
    "no broadcast requirement on either side, AQE skew-split applies. "
    "Identical oracle to the broadcast form: two physical paths, one truth.",
)
def interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.operators.joins import binned_interval_join

    star = _star(spark, sf_dir)
    week_us = 7 * 24 * 3600 * 1_000_000
    series = spark.createDataFrame(
        _SERIES_ROWS, "series_name string, start_s string, end_s string"
    ).select(
        "series_name",
        F.unix_micros(F.to_timestamp("start_s")).alias("start_us"),
        F.unix_micros(F.to_timestamp("end_s")).alias("end_us"),
    )
    events = star.events.withColumn("ts_us", F.unix_micros("ts"))
    joined = binned_interval_join(
        events, series, point="ts_us", start="start_us", end="end_us",
        bin_width=week_us,
    ).where(F.col("ts_us") < F.col("end_us"))  # half-open, matching the oracle
    return joined.groupBy("series_name", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


# ---------------------------------------------------------------------------
# J6: band join — numeric value into range buckets (incl. an 'all' band)
# ---------------------------------------------------------------------------

_BAND_ROWS = [("small", 1, 14), ("medium", 15, 34), ("large", 35, 50), ("all", 1, 50)]
_BAND_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BAND_ROWS)


@register(
    "band_join_rollup",
    oracle=f"""
    SELECT b.band_name,
      COUNT(*) AS n_parts,
      CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part p
    JOIN (VALUES {_BAND_VALUES}) b(band_name, lo, hi)
      ON p.p_size BETWEEN b.lo AND b.hi
    GROUP BY b.band_name
    """,
    doc="J6 band join: skill-tier bands p.skill_tier BETWEEN st.start AND st.end "
    "plus the overlapping 'all' band (crunch_global.sql:45).",
)
def band_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    bands = spark.createDataFrame(_BAND_ROWS, "band_name string, lo int, hi int")
    return (
        band_join(star.part, bands, value="p_size", lo="lo", hi="hi")
        .groupBy("band_name")
        .agg(F.count(F.lit(1)).alias("n_parts"), dsum("p_retailprice", "sum_price"))
    )


# ---------------------------------------------------------------------------
# J7: regex theta-join
# ---------------------------------------------------------------------------

_PATTERN_ROWS = [
    ("mentions_spark", "spark"),
    ("starts_with_key", "^key"),
    ("merge_then_batch", "merge.*batch"),
    ("repeated_table", "(table ){2,}"),
]
_PATTERN_VALUES = ", ".join(f"('{n}', '{p}')" for n, p in _PATTERN_ROWS)


@register(
    "regex_theta_join",
    oracle=f"""
    SELECT m.pattern_name,
      COUNT(*) AS n_docs,
      CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    JOIN (VALUES {_PATTERN_VALUES}) m(pattern_name, pattern)
      ON regexp_matches(d.text, m.pattern)
    GROUP BY m.pattern_name
    """,
    doc="J7 regex theta-join: the item-build RLIKE match (crunch_global.sql:53-58; "
    "pattern codegen worker.js:199-201) as a broadcast nested-loop rlike join, "
    "evaluated JVM-side in codegen.",
)
def regex_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.operators import regex_join

    star = _star(spark, sf_dir)
    patterns = spark.createDataFrame(_PATTERN_ROWS, "pattern_name string, pattern string")
    return (
        regex_join(star.documents, patterns, text="text", pattern_col="pattern")
        .groupBy("pattern_name")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# J8/J9: IN-subquery semi-join
# ---------------------------------------------------------------------------


@register(
    "semi_join_filter",
    oracle="""
    SELECT o_orderstatus,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 4000)
    GROUP BY o_orderstatus
    """,
    doc="J8/J9 IN-subquery → left-semi join (filter-dim bridge, crunch_global.sql:39; "
    "game-mode subset crunch_global.sql:49). Catalyst decorrelates to semi join.",
)
def semi_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    rich = star.customer.filter(F.col("c_acctbal") > 4000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        star.orders.join(rich, "o_custkey", "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_price"))
    )


# ---------------------------------------------------------------------------
# J10: pairwise self-join co-occurrence
# ---------------------------------------------------------------------------


@register(
    "pair_cooccurrence",
    oracle="""
    SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
      (a.l_suppkey = b.l_suppkey) AS same_supplier,
      COUNT(*) AS n_pairs
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber <> b.l_linenumber
    GROUP BY a.l_returnflag, b.l_returnflag, (a.l_suppkey = b.l_suppkey)
    """,
    doc="J10 self-join pairs: hero-vs-hero — other participants of the same match "
    "(crunch_hero_vs_hero.sql:41) with the derived bool grouping col played_with "
    "(crunch_hero_vs_hero.sql:12) → same_supplier here.",
)
def pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    li = star.lineitem.select("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag")
    pairs = cooccurrence_pairs(li, group_key="l_orderkey", id_col="l_linenumber")
    return (
        pairs.select(
            F.col("a_l_returnflag").alias("flag_a"),
            F.col("b_l_returnflag").alias("flag_b"),
            (F.col("a_l_suppkey") == F.col("b_l_suppkey")).alias("same_supplier"),
        )
        .groupBy("flag_a", "flag_b", "same_supplier")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# J2/A5: left join with NULL-absorbing coalesce sums
# ---------------------------------------------------------------------------


@register(
    "left_join_null_absorb",
    oracle="""
    SELECT c.c_mktsegment,
      COUNT(*) AS n_rows,
      COUNT(o.o_orderkey) AS n_orders,
      CAST(SUM(COALESCE(CAST(o.o_totalprice AS DECIMAL(18,2)), 0)) AS DOUBLE) AS sum_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="J2 left-outer fact⟕items with A5 sum(coalesce(x,0)) NULL absorption "
    "(crunch_global.sql:34,38) and A2 count(col) non-null counting.",
)
def left_join_null_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    return (
        star.customer.join(
            star.orders, star.customer.c_custkey == star.orders.o_custkey, "left"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.coalesce(F.col("o_totalprice").cast(_DEC), F.lit(0)))
            .cast("double")
            .alias("sum_spend"),
        )
    )


# ---------------------------------------------------------------------------
# A9: CASE-weighted sum with no ELSE (NULL terms skipped by SUM)
# ---------------------------------------------------------------------------


@register(
    "case_weighted_sum",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
      CAST(SUM(
        CASE WHEN event_type = 'purchase' THEN CAST(1.33 AS DECIMAL(6,2))
             WHEN event_type = 'click'    THEN CAST(0.33 AS DECIMAL(6,2))
        END * CAST(value AS DECIMAL(18,2))
      ) AS DOUBLE) AS fame,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1
                 WHEN event_type = 'click' THEN 1 END) AS n_weighted
    FROM events
    GROUP BY user_id % 10
    """,
    doc="A9 fame-style weighted sum: CASE ladder with no ELSE → NULL terms that "
    "SUM skips (crunch_team.sql:5-22); Spark when() without otherwise matches.",
)
def case_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    weight = (
        F.when(F.col("event_type") == "purchase", F.lit(1.33).cast("decimal(6,2)"))
        .when(F.col("event_type") == "click", F.lit(0.33).cast("decimal(6,2)"))
    )  # no .otherwise → NULL, exactly the reference's no-ELSE ladder
    return (
        star.events.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.sum(weight * F.col("value").cast(_DEC)).cast("double").alias("fame"),
            F.count(weight).alias("n_weighted"),
        )
    )


# ---------------------------------------------------------------------------
# A10: two-level aggregation
# ---------------------------------------------------------------------------


@register(
    "two_level_agg",
    oracle="""
    SELECT o.o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(r.revenue) AS DOUBLE) AS sum_revenue,
      CAST(MAX(r.revenue) AS DOUBLE) AS max_order_revenue
    FROM orders o
    JOIN (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
      FROM lineitem GROUP BY l_orderkey
    ) r ON r.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="A10 two-level aggregation: members-per-roster-per-match then fame per "
    "membership (crunch_team.sql:23-40) — inner groupBy feeding an outer groupBy.",
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    order_rev = (
        star.lineitem.groupBy("l_orderkey")
        .agg(F.sum(_disc_price()).alias("revenue"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    return (
        star.orders.join(order_rev, "o_orderkey", "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("revenue").cast("double").alias("sum_revenue"),
            F.max("revenue").cast("double").alias("max_order_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# A11/A12: additive merge — partial aggregates of disjoint batches re-merged
# ---------------------------------------------------------------------------


@register(
    "additive_merge",
    oracle="""
    SELECT l_returnflag,
      COUNT(*) AS played,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(MAX(year(l_shipdate)) AS INT) AS last_ship_year
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A11 merge-time additive aggregation (col = col + VALUES(col), "
    "crunch_global.sql:69-87) + A12 merge-time MAX (crunch_player.sql:49): "
    "two disjoint batch partials unioned and re-merged must equal the direct "
    "aggregate — the additivity invariant the whole engine rests on.",
)
def additive_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("played"),
            F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty_dec"),
            F.max(F.year("l_shipdate").cast("int")).alias("last_ship_year"),
        )

    even = partial(star.lineitem.filter((F.col("l_orderkey") % 2) == 0))
    odd = partial(star.lineitem.filter((F.col("l_orderkey") % 2) == 1))
    merged = even.unionByName(odd)
    return merged.groupBy("l_returnflag").agg(
        F.sum("played").alias("played"),
        F.sum("sum_qty_dec").cast("double").alias("sum_qty"),
        F.max("last_ship_year").alias("last_ship_year"),
    )


# ---------------------------------------------------------------------------
# bloom-filter semi-join: runtime-row-filter pruning ahead of the shuffle
# ---------------------------------------------------------------------------


@register(
    "bloom_semi_join",
    oracle="""
    SELECT l_returnflag,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS sum_revenue
    FROM lineitem
    WHERE l_orderkey IN
      (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    """,
    doc="P1 at lake scale: the reference's batch-key IN filter "
    "(worker.js:151-154, crunch_global.sql:9) re-expressed as a bloom-filter "
    "runtime row filter — ~10 bits/key bitmap built with a distributed bit_or "
    "aggregate, probed inside the scan stage, exact semi-join only on "
    "survivors. Result is exactly the semi-join (bloom false negatives are "
    "impossible); the bloom decides which rows pay the shuffle.",
)
def bloom_semi_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.operators.bloom import bloom_semi_join

    star = _star(spark, sf_dir)
    urgent = star.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    pruned = bloom_semi_join(star.lineitem, urgent, "l_orderkey", "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_disc_price()).cast("double").alias("sum_revenue"),
    )


# ---------------------------------------------------------------------------
# table profiling: one-pass per-column statistics
# ---------------------------------------------------------------------------

#: (column, kind) of the profiled table; kind picks the engine-portable
#: string rendering for min/max
_PROFILE_COLS = (
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "string"),
)


def _profile_render_sql(col: str, kind: str, fn: str) -> str:
    if kind == "double":
        return f"CAST(CAST({fn}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "ts":
        return f"strftime({fn}({col}), '%Y-%m-%d %H:%M:%S')"
    return f"CAST({fn}({col}) AS VARCHAR)"


@register(
    "table_profile",
    oracle="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
      COUNT({c}) AS n_nonnull,
      COUNT(DISTINCT {c}) AS n_distinct,
      {_profile_render_sql(c, k, 'MIN')} AS min_s,
      {_profile_render_sql(c, k, 'MAX')} AS max_s
    FROM orders"""
        for c, k in _PROFILE_COLS
    )
    + "\n) t",
    doc="Data profiling: per-column row/non-null/distinct counts and "
    "min/max in ONE pass over the table — the multi-count-distinct "
    "expands inside a single shuffle (expand factor = #columns) instead "
    "of rescanning the table per column, then the one aggregate row "
    "explodes into per-column rows. Doubles render through DECIMAL(18,2) "
    "and timestamps through a fixed format so both engines produce "
    "identical strings.",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    o = star.orders

    def render(col: str, kind: str, fn) -> F.Column:
        c = fn(col)
        if kind == "double":
            return c.cast("decimal(18,2)").cast("string")
        if kind == "ts":
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        return c.cast("string")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, k in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(c).alias(f"nd_{c}"),
            render(c, k, F.min).alias(f"mn_{c}"),
            render(c, k, F.max).alias(f"mx_{c}"),
        ]
    row = o.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_s"),
                F.col(f"mx_{c}").alias("max_s"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return row.select("n_rows", F.explode(entries).alias("e")).select(
        F.col("e.col_name").alias("col_name"),
        "n_rows",
        F.col("e.n_nonnull").alias("n_nonnull"),
        F.col("e.n_distinct").alias("n_distinct"),
        F.col("e.min_s").alias("min_s"),
        F.col("e.max_s").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# graph analytics: exact triangle count over the co-order part graph
# ---------------------------------------------------------------------------


@register(
    "triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                      GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0
    ),
    verts AS (
      SELECT COUNT(*) AS n_vertices FROM
        (SELECT u AS x FROM e UNION SELECT v FROM e) t
    )
    SELECT
      (SELECT n_vertices FROM verts) AS n_vertices,
      (SELECT COUNT(*) FROM e) AS n_edges,
      (SELECT COUNT(*) FROM e e1
         JOIN e e2 ON e2.u = e1.v
         JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    doc="Exact triangle count (operators/graph.py triangle_count) over the "
    "parts-co-ordered-together graph, computed with DEGREE-ORDERED wedge "
    "joins: every edge oriented from its lower-(degree,id) endpoint, "
    "bounding each vertex's out-degree by O(sqrt(m)) so wedge volume has "
    "no celebrity-vertex hot spot. The oracle counts the same triangles "
    "with the orientation-free canonical u<v<w 3-way join — proving the "
    "skew-safe plan exact.",
)
def triangle_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the LAZY wedge plan, not the eager persisting wrapper: with no
    # caches in the plan, AQE keeps its runtime coalescing (a cached
    # plan's output partitioning is pinned, taxing every tiny stage with
    # full shuffle-partition task overhead) and ReuseExchange dedups the
    # repeated edge subtrees — measured 3.7 -> 2.0 s at sf0.1 (r6). The
    # eager triangle_count stays the API for edge lists whose upstream
    # is expensive enough that cross-branch recompute dominates.
    from cruncher_spark.operators.graph import triangle_count_plan

    return triangle_count_plan(_co_order_edges(spark, sf_dir))


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical u<v parts-co-ordered-together edge set (shared by the
    graph queries)."""
    star = _star(spark, sf_dir)
    li = star.lineitem.where(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# graph analytics: fixed-iteration PageRank over the same co-order graph
# ---------------------------------------------------------------------------

_PR_EDGES_SQL = """
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                      GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0
"""

#: one PageRank round as SQL text: contributions cast to DECIMAL(28,14)
#: (exact, order-independent sum), scalar update in double — mirrors
#: operators/graph.py pagerank exactly. (1-d)/n is written as the
#: subtraction, not a 0.15 literal: Python's 1.0-0.85 is
#: 0.15000000000000002, a different double than the literal 0.15.
_PR_ROUND_SQL = """
    c{i} AS (SELECT s.b AS id, CAST(r.pr / g.d AS DECIMAL(28,14)) AS c
             FROM sym s JOIN deg g ON g.a = s.a JOIN r{p} r ON r.id = s.a),
    r{i} AS (SELECT id,
                    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
                    + CAST(0.85 AS DOUBLE) * CAST(SUM(c) AS DOUBLE) AS pr
             FROM c{i} GROUP BY id)"""

_PR_ITERS = 3


@register(
    "pagerank_topk",
    oracle=f"""
    WITH e AS ({_PR_EDGES_SQL}),
    sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
    deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT a AS id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg),
    {",".join(_PR_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, _PR_ITERS + 1))},
    ranked AS (SELECT id, round(pr, 12) AS pr,
                      row_number() OVER (ORDER BY round(pr, 12) DESC, id) AS rk
               FROM r{_PR_ITERS})
    SELECT id, CAST(rk AS INT) AS rk, pr FROM ranked WHERE rk <= 10
    """,
    doc="Fixed-iteration PageRank (3 rounds, d=0.85) over the "
    "parts-co-ordered-together graph (operators/graph.py pagerank): "
    "per round one rank-onto-edges join + one per-destination sum — "
    "O(V+E) shuffle per round, lineage cut per round with "
    "localCheckpoint. Cross-engine float determinism: contributions "
    "summed as DECIMAL(28,14) (exact, order-independent), scalar "
    "updates pure IEEE — the oracle unrolls the same 3 rounds and "
    "matches every rank bit-for-bit. Top-10 vertices by rank.",
)
def pagerank_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.operators.graph import pagerank

    pr = pagerank(
        _co_order_edges(spark, sf_dir), iters=_PR_ITERS, damping=0.85
    )
    return _pagerank_top10(pr)


def _pagerank_top10(pr: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    pr = pr.select("id", F.round("pr", 12).alias("pr"))
    # TakeOrdered per-partition heap first (no global sort shuffle), THEN
    # the rank window over the 10 surviving rows — a bare global
    # row_number window would single-partition every vertex.
    top = pr.orderBy(F.desc("pr"), F.asc("id")).limit(10)
    w = Window.orderBy(F.desc("pr"), F.asc("id"))
    return top.withColumn("rk", F.row_number().over(w)).select("id", "rk", "pr")


# ---------------------------------------------------------------------------
# SCD Type-2: versioned dimension history from the order change feed
# ---------------------------------------------------------------------------


@register(
    "scd2_priority_dim",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderpriority, epoch_us(o_orderdate) AS ts_us,
             o_orderkey
      FROM orders
    ),
    runs AS (
      SELECT * FROM (
        SELECT o.*, lag(o_orderpriority) OVER
          (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS prev
        FROM o) t
      WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
      ts_us AS valid_from_us,
      lead(ts_us) OVER w AS valid_to_us,
      CAST(row_number() OVER w AS INT) AS version,
      (lead(ts_us) OVER w IS NULL) AS is_current
    FROM runs WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey)
    """,
    doc="SCD Type-2 dimension versioning (merge/scd.py scd2_history): each "
    "customer's order-priority observations collapse into attribute-run "
    "version rows with [valid_from, valid_to) intervals and a current "
    "flag — the Kimball history the reference's Type-1 overwrite merge "
    "(crunch_global.sql ON DUPLICATE KEY UPDATE) cannot answer as-of "
    "queries from. ONE hash shuffle on the key: both windows (run "
    "detection lag, interval lead) partition on custkey so Catalyst "
    "reuses a single exchange+sort. Deterministic under same-timestamp "
    "ties via the orderkey tiebreak.",
)
def scd2_priority_dim_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.merge.scd import scd2_history

    star = _star(spark, sf_dir)
    changes = star.orders.select(
        "o_custkey",
        "o_orderpriority",
        F.unix_micros("o_orderdate").alias("ts_us"),
        "o_orderkey",
    )
    hist = scd2_history(
        changes, key="o_custkey", attr="o_orderpriority",
        ts="ts_us", tiebreak="o_orderkey",
    )
    return hist.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "version",
        "is_current",
    )


# ---------------------------------------------------------------------------
# data-quality audit: referential integrity + null keys in one report
# ---------------------------------------------------------------------------

#: (check name, fact, fk col, dim, pk col) — every FK edge of the star
_FK_EDGES = [
    ("lineitem_orphan_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_orphan_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_orphan_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_orphan_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_orphan_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation_orphan_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "fk_audit",
    oracle="""
    """
    + "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS check_name, COUNT(*) AS n_bad FROM {fact} f
            WHERE NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{pk} = f.{fk})"""
        for name, fact, fk, dim, pk in _FK_EDGES
    )
    + """
    UNION ALL
    SELECT 'customer_without_orders' AS check_name, COUNT(*) AS n_bad
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'orders_null_custkey' AS check_name, COUNT(*) AS n_bad
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'injected_orphan_detector' AS check_name, COUNT(*) AS n_bad
    FROM (SELECT o_custkey + 10000000 AS k FROM orders
          WHERE o_orderkey % 1000 = 0) f
    WHERE NOT EXISTS (SELECT 1 FROM customer d WHERE d.c_custkey = f.k)
    """,
    doc="One-shot data-quality audit: every FK edge of the star checked "
    "for orphans (left-anti join = NOT EXISTS; dims broadcast, so the "
    "fact side is never shuffled for dim edges), plus null-key and "
    "coverage checks — the dbt-test / Deequ-style constraint report a "
    "pipeline runs before publishing a snapshot. Each check is an "
    "independent aggregate over a pruned scan (only the key columns "
    "read); the union is of 9 single-row results, not of facts. The "
    "star data is clean (all real checks 0), so a deterministically "
    "corrupted feed (custkeys shifted out of range) rides along to "
    "prove the orphan detector counts violations when they exist.",
)
def fk_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)

    def count_as(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = []
    for name, fact, fk, dim, pk in _FK_EDGES:
        f_df, d_df = star.table(fact), star.table(dim)
        checks.append(
            count_as(
                name,
                f_df.join(
                    F.broadcast(d_df.select(pk)),
                    f_df[fk] == d_df[pk],
                    "left_anti",
                ),
            )
        )
    checks.append(
        count_as(
            "customer_without_orders",
            star.customer.join(
                star.orders.select("o_custkey"),
                star.customer["c_custkey"] == F.col("o_custkey"),
                "left_anti",
            ),
        )
    )
    checks.append(
        count_as(
            "orders_null_custkey", star.orders.where(F.col("o_custkey").isNull())
        )
    )
    corrupted = star.orders.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_custkey") + 10_000_000).alias("k")
    )
    checks.append(
        count_as(
            "injected_orphan_detector",
            corrupted.join(
                F.broadcast(star.customer.select("c_custkey")),
                corrupted["k"] == F.col("c_custkey"),
                "left_anti",
            ),
        )
    )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# set operations: INTERSECT / EXCEPT customer segments
# ---------------------------------------------------------------------------


@register(
    "set_ops_segments",
    oracle="""
    WITH urgent AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    big AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    SELECT 'both' AS segment,
           CAST((SELECT COUNT(*) FROM (SELECT * FROM urgent INTERSECT SELECT * FROM big) t) AS BIGINT) AS n
    UNION ALL
    SELECT 'urgent_only',
           CAST((SELECT COUNT(*) FROM (SELECT * FROM urgent EXCEPT SELECT * FROM big) t) AS BIGINT)
    UNION ALL
    SELECT 'big_only',
           CAST((SELECT COUNT(*) FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent) t) AS BIGINT)
    """,
    doc="Set algebra as ONE conditional aggregate: INTERSECT/EXCEPT over "
    "segments of the SAME fact re-shuffle and re-join the key sets per "
    "set operation (the naive form measured 18 exchanges for 3 "
    "segments); folding both membership predicates into per-key flags "
    "(max-of-CASE) makes the whole overlap report one hash aggregate + "
    "one tiny count — the audience-overlap pattern at fact scale. "
    "Spark's intersect()/exceptAll() operators remain available for "
    "genuinely distinct inputs; the oracle states the same semantics "
    "with literal INTERSECT / EXCEPT, proving the fold equivalent.",
)
def set_ops_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    flags = star.orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("u"),
        F.max((F.col("o_totalprice") > 200_000).cast("int")).alias("b"),
    )
    seg = (
        F.when((F.col("u") == 1) & (F.col("b") == 1), "both")
        .when(F.col("u") == 1, "urgent_only")
        .when(F.col("b") == 1, "big_only")
    )
    counts = (
        flags.select(seg.alias("segment"))
        .where(F.col("segment").isNotNull())
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # empty segments still report n=0, matching the oracle's 3 fixed rows
    names = spark.createDataFrame(
        [("both",), ("urgent_only",), ("big_only",)], "segment string"
    )
    return names.join(counts, "segment", "left").select(
        "segment", F.coalesce("n", F.lit(0).cast("long")).alias("n")
    )


# ---------------------------------------------------------------------------
# correlated scalar subquery → Catalyst decorrelation
# ---------------------------------------------------------------------------

#: predicate stated in exact integer/decimal arithmetic: price > 1.5x the
#: customer's average  ⟺  2 * price * n > 3 * sum — no float division, so
#: both engines evaluate the correlated aggregates bit-identically
_ABOVE_AVG_SQL = """
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2
            * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          > 3 * (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


@register(
    "above_avg_orders",
    oracle=_ABOVE_AVG_SQL,
    doc="Correlated scalar subqueries (each order vs 1.5x its customer's "
    "average spend) — the shape users write naturally and engines must "
    "DECORRELATE: Catalyst rewrites each per-row aggregate into a "
    "grouped aggregate joined back on the correlation key (verified in "
    "the plan: two broadcast-joined HashAggregates, one scan each), so "
    "cost is a few fact scans shuffled on custkey — never a subquery "
    "per row. "
    "The predicate is restated in integer/decimal arithmetic (2*price*n "
    "> 3*sum) so the gate stays float-exact across engines.",
)
def above_avg_orders_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    star.view("orders")
    return star.spark.sql(_ABOVE_AVG_SQL)


# ---------------------------------------------------------------------------
# native ROLLUP over the time hierarchy (year → month → grand total)
# ---------------------------------------------------------------------------


@register(
    "time_rollup",
    oracle="""
    SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'all') AS year_lbl,
           COALESCE(CAST(month(o_orderdate) AS VARCHAR), 'all') AS month_lbl,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
    doc="Native ROLLUP over the time hierarchy: (year, month) -> (year) -> "
    "grand total in ONE aggregation pass — the Expand operator emits each "
    "row once per grouping level feeding a single hash aggregate, vs "
    "unioning three separate aggregates (three scans, three shuffles). "
    "Subtotal rows are labeled 'all' like the reference's hand-rolled "
    "'all'-dimension convention; sums DECIMAL-exact cross-engine.",
)
def time_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    o = star.orders.select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.col("o_totalprice").cast(_DEC).alias("p"),
    )
    return (
        o.rollup("y", "m")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").cast("double").alias("sum_price"))
        .select(
            F.coalesce(F.col("y").cast("string"), F.lit("all")).alias("year_lbl"),
            F.coalesce(F.col("m").cast("string"), F.lit("all")).alias("month_lbl"),
            "n",
            "sum_price",
        )
    )


@register(
    "scd2_asof_lookup",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderpriority, epoch_us(o_orderdate) AS ts_us,
             o_orderkey
      FROM orders
    ),
    runs AS (
      SELECT * FROM (
        SELECT o.*, lag(o_orderpriority) OVER
          (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey) AS prev
        FROM o) t
      WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    hist AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
        ts_us AS valid_from, lead(ts_us) OVER w AS valid_to,
        CAST(row_number() OVER w AS INT) AS version
      FROM runs WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey)
    )
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
           h.version, h.priority AS priority_at_order
    FROM o JOIN hist h
      ON h.custkey = o.o_custkey
     AND o.ts_us >= h.valid_from
     AND (h.valid_to IS NULL OR o.ts_us < h.valid_to)
    """,
    doc="Point-in-time (as-of) enrichment against the SCD2 history: each "
    "order joined to the dimension version valid at its date — the "
    "whole reason Type-2 history exists. Equi-join on the dimension key "
    "carries the interval predicate as a residual filter, so the plan "
    "is a plain hash join (one shuffle each side on custkey; history is "
    "dim-sized and broadcastable at scale), never an inequality-only "
    "theta join. Every order matches exactly one version — the runs "
    "partition each customer's timeline from its first observation.",
)
def scd2_asof_lookup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cruncher_spark.merge.scd import scd2_history

    star = _star(spark, sf_dir)
    o = star.orders.select(
        "o_custkey",
        "o_orderpriority",
        F.unix_micros("o_orderdate").alias("ts_us"),
        "o_orderkey",
    )
    hist = scd2_history(
        o, key="o_custkey", attr="o_orderpriority",
        ts="ts_us", tiebreak="o_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
        "version",
    )
    return (
        o.join(
            hist,
            (o["o_custkey"] == hist["custkey"])
            & (o["ts_us"] >= hist["valid_from"])
            & (hist["valid_to"].isNull() | (o["ts_us"] < hist["valid_to"])),
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            "version",
            F.col("priority").alias("priority_at_order"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout statistics (multi-dimensional data skipping)
# ---------------------------------------------------------------------------

from cruncher_spark.sources.layout import (  # noqa: E402
    binned_zcell_stats,
    zcell_stats_oracle_sql,
)


@register(
    "zorder_cells",
    oracle=zcell_stats_oracle_sql("orders", "o_custkey", "epoch_us(o_orderdate)"),
    doc="Per-Morton-cell min/max/count over (custkey, order time) — the "
    "data-skipping evidence of a Z-ordered layout (sources/layout.py "
    "write_zordered): each cell is one contiguous Z-key file group, and "
    "its narrow min/max on BOTH dimensions is the parquet footer range "
    "scans filtered on EITHER column prune against. One broadcast "
    "bounds aggregate + one narrow projection + one 256-cell grouped "
    "aggregate; bit-interleave generated identically for both engines.",
)
def zorder_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = _star(spark, sf_dir)
    return binned_zcell_stats(
        star.orders, F.col("o_custkey"), F.unix_micros("o_orderdate")
    )
