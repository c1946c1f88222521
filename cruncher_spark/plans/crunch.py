"""The six crunch materialized-view plans, re-expressed Spark-first.

Reference: the SQL scripts in /root/reference (crunch_global.sql,
crunch_player.sql, crunch_hero_vs_hero.sql, crunch_phases.sql,
crunch_phases_bans.sql, crunch_team.sql). Each function builds the *delta*
DataFrame one micro-batch contributes to its point table; the merge layer
(cruncher_spark.merge) folds deltas into persistent state.

Architecture vs the reference (SURVEY.md §2.3 J3/J4): the reference fans
out every fact row through OR-'all' dimension joins — a 4-dim fan-out
multiplies the stream 16x *before* the aggregate. Here:

- 1:1 dims (hero, role, region, game_mode) become GROUPING SETS axes — each
  row is emitted once per set directly under the partial aggregate
  (:func:`_grouping_sets_agg`), so the fan-out is never materialized;
- genuinely multi-match dims (series intervals, the filter bridge, skill
  bands, regex-matched builds) stay fan-outs, against literal snapshots
  of the dims, in explicit specific/'all' union arms — multiplier ~8x
  instead of the reference's 256x worst case;
- conditional strata (game_mode/skill_tier specific only when
  s.show_in_web, crunch_global.sql:44-45; builds only for casual/ranked in
  gm='all' x region='all' cells, crunch_global.sql:46-50; player never
  crosses hero x role, crunch_player.sql:39) become per-stratum grouping
  sets, unioned.

No dimension table is read by a batch at all. The global, player and
hero_vs_hero deltas shuffle nothing: their fact base is one partition
(:func:`_fact_base`), the arms over it are unions, ``inline``s and
broadcast joins, which keep that partitioning, and the grouping sets are
expanded by a ``Generate``, not Spark's ``Expand`` (which would force an
exchange), so partial and final aggregate run in the same task. The phases
and bans views, which read ``participant_phases`` in parallel, shuffle
once, into their final aggregate; hero_vs_hero's pair side may shuffle
when ``participant`` is too large to broadcast.

Per-batch cost model (global, player, hero_vs_hero). The reference serves
each batch with one ``INSERT … SELECT … WHERE p.api_id IN (:ids)`` through
index lookups, O(batch) (crunch_global.sql:63). Here the worker hands the
builders the batch as a driver-side id list, and every fact table
(participant, participant_stats, participant_items) is restricted by one
parsed ``key IN (…)`` predicate and joined once, in :func:`_fact_base`,
which returns an eager ``localCheckpoint`` as one partition: the facts
are read once per batch, and every fan-out arm reads the small
checkpointed base, not the fact tables. The dimension tables are read
once per worker, on the first batch (:func:`_dim_cached`), and enter
every later plan as literal expressions: the multi-match dims (series
intervals, skill bands, specific filters, builds) as an ``inline`` of a
literal array, the 1:1 dims as ``IN`` lists and maps. A dimension change therefore takes effect at worker
restart (MIGRATION.md). What a batch still reads beyond its own facts is
the ``global_point_filters`` bridge (broadcast, restricted to the view's
specific filters, semi-joined on ``(match_api_id, filter_id)``), and for
hero_vs_hero the whole ``participant`` table for the pair side. The phases
and bans views key on ``participant_phases`` and do not use the fact base.
"""

from __future__ import annotations

import weakref
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cruncher_spark.functions.scalars import (
    dsum,
    posix_to_java_regex,
    sql_literal,
)

#: worker.js:199-201 — the build-slot match regex fragments, POSIX→Java.
BUILD_REGEX_START = posix_to_java_regex("^([[:digit:]]+;[[:digit:]]+,)*(")
BUILD_REGEX_END = posix_to_java_regex(")+(,[[:digit:]]+;[[:digit:]]+)*$")

#: measure columns shared by crunch_global/player/hero_vs_hero
#: (crunch_global.sql:20-32)
STATS_SUMS = (
    "duration", "kills", "deaths", "assists", "farm", "minion_kills",
    "jungle_kills", "non_jungle_minion_kills", "crystal_mine_captures",
    "gold_mine_captures", "kraken_captures", "turret_captures", "gold",
)

Tables = Mapping[str, DataFrame]


def item_use_aggs(item_ids: Sequence[int], source: str = "item_uses") -> list[Column]:
    """Dynamic per-activable-item use sums (worker.js:91-103's JS codegen,
    done at plan-build time): one ``sum(coalesce(item_uses[k], 0))`` per
    activable item, named ``item_XXX_use`` (zero-padded, worker.js:92)."""
    # parsed SQL fragments (optimization r12): the Column form built 5
    # gateway nodes per item x dozens of items per plan; same
    # SUM(COALESCE(element_at(...), 0)) tree, values unchanged
    return [
        F.expr(
            f"SUM(COALESCE(element_at(`{source}`, {int(k)}), 0))"
        ).alias(f"item_{int(k):03d}_use")
        for k in item_ids
    ]


#: dim lookups happen once per process per dim table (the reference does
#: its item lookup once at worker startup, worker.js:83-85). Entries are
#: keyed by the DataFrame's id() BUT tracked via weakref: when a dim table
#: is garbage-collected its entries are evicted, so a recycled CPython
#: address can never serve a dead table's cached ids, and the cache stays
#: bounded (round-1 ADVICE).
_DIM_CACHE: dict[tuple, object] = {}
_DIM_REFS: dict[int, "weakref.ref"] = {}


def _evict_dim(did: int) -> None:
    _DIM_REFS.pop(did, None)
    for k in [k for k in _DIM_CACHE if k[-1] == did]:
        _DIM_CACHE.pop(k, None)


def _dim_cached(df: DataFrame, key: tuple, compute):
    did = id(df)
    ref = _DIM_REFS.get(did)
    if ref is None or ref() is not df:
        _evict_dim(did)  # fresh object (or recycled address): start clean
        _DIM_REFS[did] = weakref.ref(df, lambda _, d=did: _evict_dim(d))
    full = key + (did,)
    if full not in _DIM_CACHE:
        _DIM_CACHE[full] = compute()
    return _DIM_CACHE[full]


def _dim_rows(
    tables: Tables, name: str, where: str, cols: Sequence[str]
) -> tuple[T.StructType, list[tuple]]:
    """The rows of dim ``name`` matching the SQL predicate ``where``,
    projected to the SQL expressions ``cols``: collected once per process
    per dim table, with the projection's schema."""

    def compute():
        df = tables[name].where(where).selectExpr(*cols)
        return df.schema, [tuple(r) for r in df.collect()]

    return _dim_cached(tables[name], ("rows", where, tuple(cols)), compute)


def activable_item_ids(tables: Tables) -> list[int]:
    """worker.js:83-85 — item dim lookup at startup."""
    _, rows = _dim_rows(tables, "item", "is_activable", ["id"])
    return sorted(r[0] for r in rows)


def _in_expr(key: str, values: Sequence) -> str:
    """``key IN (values)`` as SQL text; ``false`` for no values."""
    if not values:
        return "false"
    return f"`{key}` IN ({', '.join(map(sql_literal, values))})"


def _explode_rows(
    df: DataFrame, schema: T.StructType, rows: Sequence[tuple]
) -> DataFrame:
    """``df`` crossed with a literal table: each input row once per entry of
    ``rows``, with ``schema``'s columns appended. The rows enter the plan as
    one ``inline`` of a literal array, so no table is read or broadcast."""
    elems = ", ".join(
        "struct("
        + ", ".join(
            f"CAST({sql_literal(v)} AS {f.dataType.simpleString()})"
            for f, v in zip(schema.fields, r)
        )
        + ")"
        for r in rows
    )
    table = f"CAST(array({elems}) AS array<{schema.simpleString()}>)"
    return df.select("*", F.expr(f"inline({table})"))


def _series_rows(
    tables: Tables, dimension_on: str
) -> tuple[T.StructType, list[tuple]]:
    """(series_id, start, end, show_in_web) of the view's series, the
    bounds as ``unix_micros``: compared as integers, the membership test
    does not depend on the session time zone."""
    return _dim_rows(
        tables, "series", f"dimension_on = {sql_literal(dimension_on)}",
        ["id AS series_id", "unix_micros(start) AS _lo",
         "unix_micros(`end`) AS _hi", "show_in_web"],
    )


def _web_series_ids(tables: Tables, dimension_on: str) -> list:
    return [r[0] for r in _series_rows(tables, dimension_on)[1] if r[3]]


def _subsets(names: Sequence[str]) -> list[tuple[str, ...]]:
    return [
        tuple(n for i, n in enumerate(names) if mask & (1 << i))
        for mask in range(1 << len(names))
    ]


def _dim_ids(tables: Tables, name: str, where: str = "true") -> dict:
    """name → id of dim ``name``'s rows matching the SQL predicate ``where``."""
    return dict(_dim_rows(tables, name, where, ["name", "id"])[1])


def _batch_join(df: DataFrame, key: str, batch_ids) -> DataFrame:
    """P1 batch-key restriction (crunch_global.sql:63). Python lists become
    one parsed ``key IN (…)`` fragment (pushed into the scan; a
    ``Column.isin`` builds one gateway node per id, ~0.5 s per 1000 ids);
    DataFrames become a semi join: the scale path, and how
    ``perfbench/run.py`` seeds its bulk state (70k ids in one delta)."""
    if isinstance(batch_ids, DataFrame):
        other = batch_ids.toDF(key)
        return df.join(other, key, "left_semi")
    return df.where(F.expr(_in_expr(key, list(batch_ids))))


def _grouping_sets_agg(
    df: DataFrame,
    fixed: Sequence[str],
    axes: Sequence[str],
    sets: Sequence[Sequence[str]],
    aggs: Sequence[Column],
) -> DataFrame:
    """GROUPING SETS over ``fixed + set`` for each set, with per-axis rolled
    flags ``_g_<axis>`` in the output (true = this axis is the 'all' cell).

    The sets are expanded here, not by ``DataFrame.groupingSets``: Spark
    plans that as ``Expand``, whose output partitioning is unknown, so an
    exchange always separates the partial from the final aggregate, even
    over one partition. Each row is instead emitted once per set by one
    ``inline`` of a literal-shaped array (a ``Generate``, which keeps its
    child's partitioning), its grouping key ``_gk<i>`` holding the axis
    value or a typed NULL, and ``_gid`` the bits ``grouping_id()`` gives
    (bit ``n-1-i`` set when axis ``i`` is rolled up). Over a
    one-partition input (:func:`_fact_base`) the whole aggregate is one
    task. The aggregates still read the original axis columns."""
    n = len(axes)
    types = dict(df.dtypes)
    keys = [f"_gk{i}" for i in range(n)]

    def elem(s: Sequence[str]) -> str:
        vals = [
            f"'{k}', " + (f"`{a}`" if a in s else f"CAST(NULL AS {types[a]})")
            for k, a in zip(keys, axes)
        ]
        gid = sum(1 << (n - 1 - i) for i, a in enumerate(axes) if a not in s)
        return f"named_struct({', '.join(vals)}, '_gid', {gid})"

    out = (
        df.selectExpr("*", f"inline(array({', '.join(map(elem, sets))}))")
        .groupBy(*fixed, *keys, "_gid")
        .agg(*aggs)
    )
    return out.selectExpr(
        *[f"`{c}`" for c in fixed],
        *[f"{k} AS `{a}`" for k, a in zip(keys, axes)],
        *[f"(_gid & {1 << (n - 1 - i)}) != 0 AS `_g_{a}`" for i, a in enumerate(axes)],
        *[f"`{c}`" for c in out.columns[len(fixed) + n + 1:]],
    )


def _axis_id(
    axis: str, all_id: int, valid_ids: Sequence[int] | None = None
) -> tuple[Column, Column]:
    """(output id column, validity predicate) for a rolled-flag axis.

    Specific cells for values missing from the dim are dropped — in the
    reference an unknown id matches only the 'all' row
    (crunch_global.sql:41), so it contributes to rolled cells but never
    produces a specific row. The 'all' row id itself is likewise excluded
    from the specific arm: a fact whose axis value *equals* the all-row id
    matches that one dim row once in the reference's OR-join, so emitting
    both a specific and a rolled cell would produce duplicate merge keys.
    """
    flag = F.col(f"_g_{axis}")
    out = F.when(flag, F.lit(all_id)).otherwise(F.col(axis))
    valid = (
        F.lit(True)
        if valid_ids is None
        else (flag | F.col(axis).isin([i for i in valid_ids if i != all_id]))
    )
    return out, valid


def _region_axis(region_ids: dict) -> tuple[Column, Column]:
    """(output region id, validity predicate) for the rolled ``shard_id``
    axis: facts carry the region NAME, so a specific cell maps it through
    the region dim; names missing from the dim produce no specific cell."""
    region_map = F.create_map(
        *[x for n, i in region_ids.items() if n != "all" for x in (F.lit(n), F.lit(i))]
    )
    region_specific = F.element_at(region_map, F.col("shard_id"))
    region_out = F.when(
        F.col("_g_shard_id"), F.lit(region_ids["all"])
    ).otherwise(region_specific)
    return region_out, F.col("_g_shard_id") | region_specific.isNotNull()


def _filter_candidates(
    base: DataFrame, tables: Tables, dimension_on: str
) -> DataFrame:
    """J8: ``f.name='all' OR f.id IN (bridge filters of the match)``
    (crunch_global.sql:39) → union of the constant 'all' arm and the
    specific arm: the base crossed with the view's specific filter ids,
    semi-joined on ``(match_api_id, filter_id)`` against the bridge — the
    IN-subquery's set semantics, so duplicate bridge rows count once.
    Adds ``filter_id``."""
    all_id = _dim_ids(
        tables, "filter", f"dimension_on = {sql_literal(dimension_on)}"
    )["all"]
    arm_all = base.withColumn("filter_id", F.lit(all_id))
    schema, rows = _dim_rows(
        tables, "filter",
        f"dimension_on = {sql_literal(dimension_on)} AND name != 'all'",
        ["id AS filter_id"],
    )
    rows = sorted(set(rows))  # ids are keys: a repeated row matches once
    bridge = tables["global_point_filters"].where(
        _in_expr("filter_id", [r[0] for r in rows])
    )
    arm_specific = _explode_rows(base, schema, rows).join(
        F.broadcast(bridge), ["match_api_id", "filter_id"], "left_semi"
    )
    return arm_all.unionByName(arm_specific)


def _series_join(
    base: DataFrame, tables: Tables, dimension_on: str, time_col: str
) -> DataFrame:
    """J5: interval membership ``time BETWEEN s.start AND s.end``
    (crunch_global.sql:40); overlapping series each match (intended
    fan-out; a NULL bound matches nothing). Adds series_id, show_in_web."""
    return (
        _explode_rows(base, *_series_rows(tables, dimension_on))
        .where(f"unix_micros(`{time_col}`) BETWEEN _lo AND _hi")
        .drop("_lo", "_hi")
    )


def _tier_arms(
    base: DataFrame, tables: Tables, all_tier_id: int, require_web: bool
) -> DataFrame:
    """J6: ``(skill_tier BETWEEN st.start AND st.end [AND s.show_in_web])
    OR st.name='all'`` (crunch_global.sql:45) → 'all' arm union band-join
    arm. Adds skill_tier_id."""
    arm_all = base.withColumn("skill_tier_id", F.lit(all_tier_id))
    specific_base = base.where(F.col("show_in_web")) if require_web else base
    tiers = _dim_rows(
        tables, "skill_tier", "name != 'all'",
        ["id AS skill_tier_id", "start AS _lo", "`end` AS _hi"],
    )
    arm_specific = (
        _explode_rows(specific_base, *tiers)
        .where("skill_tier BETWEEN _lo AND _hi")
        .drop("_lo", "_hi")
    )
    return arm_all.unionByName(arm_specific)


def _build_matches(tables: Tables) -> tuple[T.StructType, list[tuple], str]:
    """J7 regex build match (crunch_global.sql:53-58) with the regexes built
    on the driver: (schema, rows) of the specific global build ids that can
    match, and a SQL predicate over ``build_id`` and ``item_grants``.

    A slot matches when its item is NULL or the grants match
    ``START item;count END``; a slot with an item but a NULL count renders
    a NULL pattern, which matches nothing, so such a build is left out."""

    def compute():
        schema, rows = _dim_rows(
            tables, "build", "name != 'all' AND dimension_on = 'global'",
            ["id AS build_id",
             *[c for s in range(1, 7) for c in (f"item_{s}", f"item_{s}_count")]],
        )
        keep, arms = [], []
        for r in rows:
            pairs = [(r[1 + 2 * s], r[2 + 2 * s]) for s in range(6)]
            if any(i is not None and n is None for i, n in pairs):
                continue
            conds = [
                "item_grants RLIKE "
                + sql_literal(f"{BUILD_REGEX_START}{i};{n}{BUILD_REGEX_END}")
                for i, n in pairs if i is not None
            ]
            keep.append((r[0],))
            arms.append(f"WHEN {r[0]} THEN {' AND '.join(conds) or 'true'}")
        cond = f"CASE build_id {' '.join(arms)} ELSE false END" if arms else "false"
        return T.StructType(schema.fields[:1]), keep, cond

    return _dim_cached(tables["build"], ("build_matches",), compute)


def crunch_global_delta(
    tables: Tables,
    batch_ids,
    now: Column | None = None,
) -> DataFrame:
    """crunch_global.sql as a Spark plan: the global rollup cube delta.

    Output columns = global_point minus the auto-id: updated_at, 8 dim ids
    (+ hero2_id/role2_id placeholder 1s, crunch_global.sql:12-13), 18
    measures, and one item_XXX_use per activable item.
    """
    now = now if now is not None else F.current_timestamp()
    item_ids = activable_item_ids(tables)
    hero_ids = _dim_ids(tables, "hero")
    role_ids = _dim_ids(tables, "role")
    region_ids = _dim_ids(tables, "region")
    mode_ids = _dim_ids(tables, "game_mode")
    tier_ids = _dim_ids(tables, "skill_tier")
    build_all_id = _dim_ids(tables, "build", "dimension_on = 'global'").get("all")
    casual_ranked = [mode_ids[n] for n in ("casual", "ranked") if n in mode_ids]

    base = _fact_base(tables, batch_ids)
    base = _series_join(base, tables, "global", "stats_created_at")
    base = _filter_candidates(base, tables, "global")
    base = _tier_arms(base, tables, tier_ids["all"], require_web=True)

    # J7 build arms: 'all' always; specific only per-patch global for
    # casual/ranked (crunch_global.sql:46-50) — the gm='all' x reg='all'
    # restriction is a stratum constraint handled in the grouping sets below.
    arm_all = base.withColumn("build_id", F.lit(build_all_id))
    build_schema, build_rows, build_cond = _build_matches(tables)
    arm_build = _explode_rows(
        base.where(F.col("show_in_web") & F.col("game_mode_id").isin(casual_ranked)),
        build_schema, build_rows,
    ).where(build_cond)
    fanned = arm_all.unionByName(arm_build)

    measures = _stats_measures(
        item_ids, round_impact=True, with_trueskill=True,
        duration_alias="time_spent",
    )

    fixed = ["series_id", "filter_id", "skill_tier_id", "build_id"]
    axes = ["hero_id", "role_id", "shard_id", "game_mode_id"]

    # ONE aggregate over the full cube, then per-stratum cells filtered
    # out afterwards. Valid because the stratum is a function of cells'
    # own keys: series_id determines show_in_web and build_id determines
    # build-specificity, so no cross-stratum cell merging can occur.
    # One shuffle instead of three + union (SURVEY.md §7 watch-list).
    agg = _grouping_sets_agg(
        fanned.drop("show_in_web"), fixed, axes, _subsets(axes), measures
    )

    web_series = _web_series_ids(tables, "global")
    specific_builds = [r[0] for r in build_rows]
    # daily series: game_mode only 'all' (crunch_global.sql:44 gate)
    daily_ok = F.col("series_id").isin(web_series) | F.col("_g_game_mode_id")
    # specific builds live only in gm='all' x region='all' cells
    # (crunch_global.sql:48,50)
    build_ok = ~F.col("build_id").isin(specific_builds) | (
        F.col("_g_game_mode_id") & F.col("_g_shard_id")
    )
    agg = agg.where(daily_ok & build_ok)

    hero_out, hero_ok = _axis_id("hero_id", hero_ids["all"], list(hero_ids.values()))
    role_out, role_ok = _axis_id("role_id", role_ids["all"], list(role_ids.values()))
    mode_out, mode_ok = _axis_id("game_mode_id", mode_ids["all"], list(mode_ids.values()))
    region_out, region_ok = _region_axis(region_ids)

    measure_names = [
        "played", "wins", "trueskill_delta", "time_spent", *STATS_SUMS[1:],
        "impact_score", "surrender",
        *[f"item_{k:03d}_use" for k in item_ids],
    ]
    return (
        agg.where(hero_ok & role_ok & mode_ok & region_ok)
        .select(
            now.alias("updated_at"),
            F.col("series_id"),
            F.col("filter_id"),
            hero_out.alias("hero_id"),
            mode_out.alias("game_mode_id"),
            F.col("skill_tier_id"),
            F.col("build_id"),
            role_out.alias("role_id"),
            F.lit(1).alias("hero2_id"),   # collapsed placeholder dims
            F.lit(1).alias("role2_id"),   # (crunch_global.sql:12-13,65)
            region_out.cast("bigint").alias("region_id"),
            *[F.col(m) for m in measure_names],
        )
    )


#: merge key for global_point (crunch_global.sql:65's GROUP BY)
GLOBAL_POINT_KEY = (
    "series_id", "filter_id", "hero_id", "game_mode_id", "skill_tier_id",
    "build_id", "role_id", "hero2_id", "role2_id", "region_id",
)


def _stats_measures(item_ids: Sequence[int], *, round_impact: bool,
                    with_trueskill: bool, duration_alias: str) -> list[Column]:
    """The shared measure list of global/player/hero_vs_hero
    (crunch_global.sql:17-35, crunch_player.sql:14-32,
    crunch_hero_vs_hero.sql:19-37). Doubles sum via DECIMAL(18,2)
    (order/engine-exact; identical semantics at 2-dec inputs)."""
    impact = F.sum(F.col("impact_score").cast("decimal(18,2)"))
    if round_impact:
        impact = F.round(impact)
    return [
        F.count("id").alias("played"),
        F.sum(F.col("winner").cast("int")).alias("wins"),
        # A6: single-arg coalesce — a plain sum (crunch_global.sql:19)
        *([dsum("trueskill_delta", "trueskill_delta")] if with_trueskill else []),
        F.sum("duration").alias(duration_alias),
        *[
            dsum(c, c) if c == "farm" else F.sum(c).alias(c)
            for c in STATS_SUMS[1:]
        ],
        impact.cast("double").alias("impact_score"),
        F.sum(F.coalesce(F.col("surrender"), F.lit(0))).alias("surrender"),
        *item_use_aggs(item_ids),
    ]


def _fact_base(tables: Tables, batch_ids) -> DataFrame:
    """participant ⋈ stats ⟕ items for a batch (J1/J2,
    crunch_global.sql:36-38), checkpointed so the fan-out arms downstream
    read it instead of re-planning the fact joins (module docstring).
    Restricting stats and items to the batch too keeps the same rows:
    both joins are on ``api_id`` equality.

    The checkpoint job keeps the scans' parallelism; the base it returns
    is its blocks coalesced to one partition, so the arms' unions,
    broadcast joins and the grouping-set expansion above it keep a single
    partition, and the delta's partial and final aggregate run in one
    task with no exchange (:func:`_grouping_sets_agg`)."""
    p = _batch_join(tables["participant"], "api_id", batch_ids)
    p_s = _batch_join(
        tables["participant_stats"], "participant_api_id", batch_ids
    ).withColumnRenamed("created_at", "stats_created_at")
    items = _batch_join(
        tables["participant_items"], "participant_api_id", batch_ids
    ).withColumnRenamed("participant_api_id", "pi_api_id")
    base = (
        p.join(p_s, p_s["participant_api_id"] == p["api_id"])
        .drop("participant_api_id")
        .join(items, F.col("pi_api_id") == F.col("api_id"), "left")
        .drop("pi_api_id")
    )
    return base.localCheckpoint().coalesce(1)


def crunch_player_delta(
    tables: Tables,
    batch_ids,
) -> DataFrame:
    """crunch_player.sql as a Spark plan: the per-player rollup delta.

    The role dim is *constrained*: role specific only when hero is 'all'
    (crunch_player.sql:39 ``-- do not cross hero x role``), so the sets
    over (hero, role) are {(), (hero), (role)} — exactly grouping sets,
    never a blind cube. game_mode is unconstrained (crunch_player.sql:41).
    ``updated_at`` is max(created_at) per group — the reference emits an
    arbitrary in-group value (non-aggregated select, MySQL permissive
    mode) and its merge keeps the greater (crunch_player.sql:49), so max
    is the merge-equivalent deterministic choice.
    """
    item_ids = activable_item_ids(tables)
    hero_ids = _dim_ids(tables, "hero")
    role_ids = _dim_ids(tables, "role")
    mode_ids = _dim_ids(tables, "game_mode")

    base = _fact_base(tables, batch_ids)
    base = _series_join(base, tables, "player", "stats_created_at")
    base = _filter_candidates(base, tables, "player")

    measures = [
        F.max("created_at").alias("updated_at"),
        *_stats_measures(
            item_ids, round_impact=False, with_trueskill=False,
            duration_alias="time_spent",
        ),
    ]

    fixed = ["player_api_id", "series_id", "filter_id"]
    axes = ["hero_id", "role_id", "game_mode_id"]
    hr_sets: list[tuple[str, ...]] = [(), ("hero_id",), ("role_id",)]
    sets = [hr + gm for hr in hr_sets for gm in [(), ("game_mode_id",)]]

    agg = _grouping_sets_agg(base, fixed, axes, sets, measures)

    hero_out, hero_ok = _axis_id("hero_id", hero_ids["all"], list(hero_ids.values()))
    role_out, role_ok = _axis_id("role_id", role_ids["all"], list(role_ids.values()))
    mode_out, mode_ok = _axis_id("game_mode_id", mode_ids["all"], list(mode_ids.values()))

    agg_names = [
        c for c in agg.columns
        if c not in set(fixed) | set(axes) and not c.startswith("_g_")
    ]
    return agg.where(hero_ok & role_ok & mode_ok).select(
        *fixed,
        hero_out.alias("hero_id"),
        mode_out.alias("game_mode_id"),
        role_out.alias("role_id"),
        *[F.col(c) for c in agg_names],
    )


#: merge key for player_point (crunch_player.sql:45's GROUP BY)
PLAYER_POINT_KEY = (
    "player_api_id", "series_id", "filter_id", "hero_id", "game_mode_id",
    "role_id",
)


def crunch_hero_vs_hero_delta(
    tables: Tables,
    batch_ids,
    now: Column | None = None,
) -> DataFrame:
    """crunch_hero_vs_hero.sql as a Spark plan: pairwise co-occurrence.

    J10: self-join on match_api_id against the whole ``participant``
    table (the one genuinely fact-sized input: broadcast while it is
    small, the one-partition batch side streaming through it; a
    sort-merge join shuffles both sides). hero/role of both pair sides
    join *exactly* (no 'all', crunch_hero_vs_hero.sql:44-47); only
    region/game_mode roll up, and series is visible-only (no daily,
    crunch_hero_vs_hero.sql:43).
    """
    now = now if now is not None else F.current_timestamp()
    item_ids = activable_item_ids(tables)
    hero_ids = _dim_ids(tables, "hero")
    role_ids = _dim_ids(tables, "role")
    region_ids = _dim_ids(tables, "region")
    mode_ids = _dim_ids(tables, "game_mode")
    tier_ids = _dim_ids(tables, "skill_tier")
    hero_specific = [i for n, i in hero_ids.items() if n != "all"]
    role_specific = [i for n, i in role_ids.items() if n != "all"]

    base = _fact_base(tables, batch_ids)
    p2 = tables["participant"].select(
        F.col("match_api_id").alias("p2_match_api_id"),
        F.col("api_id").alias("p2_api_id"),
        F.col("roster_api_id").alias("p2_roster_api_id"),
        F.col("hero_id").alias("hero2_id"),
        F.col("role_id").alias("role2_id"),
    )
    base = base.join(
        p2,
        (F.col("match_api_id") == F.col("p2_match_api_id"))
        & (F.col("api_id") != F.col("p2_api_id")),
    ).drop("p2_match_api_id", "p2_api_id")
    base = base.withColumn(
        "played_with", F.col("roster_api_id") == F.col("p2_roster_api_id")
    ).drop("p2_roster_api_id")
    # exact dim membership on both pair sides (inner joins in the
    # reference drop unknown hero/role ids)
    base = base.where(
        F.col("hero_id").isin(hero_specific)
        & F.col("role_id").isin(role_specific)
        & F.col("hero2_id").isin(hero_specific)
        & F.col("role2_id").isin(role_specific)
    )
    base = _series_join(
        base, tables, "global", "stats_created_at"
    ).where(F.col("show_in_web"))
    base = _filter_candidates(base, tables, "global")
    base = _tier_arms(base, tables, tier_ids["all"], require_web=False)

    measures = _stats_measures(
        item_ids, round_impact=False, with_trueskill=True,
        duration_alias="duration",
    )

    fixed = [
        "series_id", "filter_id", "hero_id", "role_id", "hero2_id",
        "role2_id", "played_with", "skill_tier_id",
    ]
    axes = ["shard_id", "game_mode_id"]

    sets = [(), ("shard_id",), ("game_mode_id",), ("shard_id", "game_mode_id")]
    agg = _grouping_sets_agg(base, fixed, axes, sets, measures)

    mode_out, mode_ok = _axis_id("game_mode_id", mode_ids["all"], list(mode_ids.values()))
    region_out, region_ok = _region_axis(region_ids)

    agg_names = [
        c for c in agg.columns
        if c not in set(fixed) | set(axes) and not c.startswith("_g_")
    ]
    return agg.where(mode_ok & region_ok).select(
        now.alias("updated_at"),
        *fixed,
        mode_out.alias("game_mode_id"),
        region_out.cast("bigint").alias("region_id"),
        *[F.col(c) for c in agg_names],
    )


#: merge key for global_point_hero_vs_hero (crunch_hero_vs_hero.sql:54)
HERO_VS_HERO_KEY = (
    "series_id", "filter_id", "hero_id", "role_id", "hero2_id", "role2_id",
    "played_with", "game_mode_id", "skill_tier_id", "region_id",
)


def crunch_phases_delta(
    tables: Tables,
    batch_phase_ids,
    now: Column | None = None,
) -> DataFrame:
    """crunch_phases.sql as a Spark plan: per in-game time-slice rollup.

    Batch key is participant_phases.id (crunch_phases.sql:90 ``-- TODO
    rename``); (phase_start, phase_end) are plain grouping keys
    (pre-windowed upstream); series membership is on p.created_at
    (crunch_phases.sql:83), not stats. 59 additive measures plus
    ``build_id=1`` and ``time_spent=0`` placeholders
    (crunch_phases.sql:10,20).
    """
    from cruncher_spark.schemas import PARTICIPANT_PHASES, PHASE_MEASURES

    now = now if now is not None else F.current_timestamp()
    item_ids = activable_item_ids(tables)
    hero_ids = _dim_ids(tables, "hero")
    role_ids = _dim_ids(tables, "role")
    region_ids = _dim_ids(tables, "region")
    mode_ids = _dim_ids(tables, "game_mode")
    tier_ids = _dim_ids(tables, "skill_tier")

    ph = _batch_join(tables["participant_phases"], "id", batch_phase_ids)
    ph = ph.select(
        F.col("id").alias("ph_id"),
        F.col("participant_api_id"),
        F.col("start").alias("phase_start"),
        F.col("end").alias("phase_end"),
        "item_uses",
        *PHASE_MEASURES,
    )
    base = ph.join(
        tables["participant"], ph["participant_api_id"] == F.col("api_id")
    ).drop("participant_api_id")
    base = _series_join(base, tables, "global", "created_at")
    base = _filter_candidates(base, tables, "global")
    base = _tier_arms(base, tables, tier_ids["all"], require_web=True)

    def phase_sum(c: str) -> Column:
        if isinstance(PARTICIPANT_PHASES[c].dataType, T.DoubleType):
            return dsum(c, c)
        return F.sum(c).alias(c)

    measures = [
        F.count("id").alias("played"),
        # sum(p.winner) is uncast in the reference (crunch_phases.sql:19);
        # MySQL coerces bool→int — rendered explicitly here
        F.sum(F.col("winner").cast("int")).alias("wins"),
        *[phase_sum(c) for c in PHASE_MEASURES],
        *item_use_aggs(item_ids),
    ]

    fixed = ["series_id", "filter_id", "skill_tier_id", "phase_start", "phase_end"]
    axes = ["hero_id", "role_id", "shard_id", "game_mode_id"]

    # single aggregate + post-filter (series_id determines show_in_web;
    # see crunch_global_delta): daily series keep only gm-rolled cells
    # (crunch_phases.sql:87 gate)
    agg = _grouping_sets_agg(
        base.drop("show_in_web"), fixed, axes, _subsets(axes), measures
    )
    web_series = _web_series_ids(tables, "global")
    agg = agg.where(
        F.col("series_id").isin(web_series) | F.col("_g_game_mode_id")
    )

    hero_out, hero_ok = _axis_id("hero_id", hero_ids["all"], list(hero_ids.values()))
    role_out, role_ok = _axis_id("role_id", role_ids["all"], list(role_ids.values()))
    mode_out, mode_ok = _axis_id("game_mode_id", mode_ids["all"], list(mode_ids.values()))
    region_out, region_ok = _region_axis(region_ids)

    agg_names = [
        c for c in agg.columns
        if c not in set(fixed) | set(axes) and not c.startswith("_g_")
    ]
    return agg.where(hero_ok & role_ok & mode_ok & region_ok).select(
        now.alias("updated_at"),
        F.col("series_id"),
        F.col("filter_id"),
        hero_out.alias("hero_id"),
        mode_out.alias("game_mode_id"),
        F.col("skill_tier_id"),
        F.lit(1).alias("build_id"),  # crunch_phases.sql:10 -- TODO
        role_out.alias("role_id"),
        region_out.cast("bigint").alias("region_id"),
        F.col("phase_start"),
        F.col("phase_end"),
        F.lit(0).alias("time_spent"),  # crunch_phases.sql:20
        *[F.col(c) for c in agg_names],
    )


#: merge key for global_point_phase (crunch_phases.sql:92's GROUP BY)
PHASE_POINT_KEY = (
    "series_id", "filter_id", "hero_id", "game_mode_id", "skill_tier_id",
    "role_id", "region_id", "phase_start", "phase_end",
)


def crunch_phases_bans_delta(
    tables: Tables,
    batch_phase_ids,
    now: Column | None = None,
) -> DataFrame:
    """crunch_phases_bans.sql as a Spark plan: hero-ban counts.

    The hero dim joins on ``ph.ban`` (crunch_phases_bans.sql:19
    ``-- special to ban table!``): a NULL ban matches only the 'all' row,
    so specific cells exist only for known banned heroes while every row
    still counts toward 'all'.
    """
    now = now if now is not None else F.current_timestamp()
    hero_ids = _dim_ids(tables, "hero")
    region_ids = _dim_ids(tables, "region")
    mode_ids = _dim_ids(tables, "game_mode")
    tier_ids = _dim_ids(tables, "skill_tier")

    ph = _batch_join(tables["participant_phases"], "id", batch_phase_ids)
    ph = ph.select(
        F.col("id").alias("ph_id"),
        F.col("participant_api_id"),
        F.col("ban").alias("ban_hero_id"),
    )
    base = ph.join(
        tables["participant"], ph["participant_api_id"] == F.col("api_id")
    ).drop("participant_api_id")
    base = _series_join(base, tables, "global", "created_at")
    base = _filter_candidates(base, tables, "global")
    base = _tier_arms(base, tables, tier_ids["all"], require_web=True)

    measures = [F.count("id").alias("played")]
    fixed = ["series_id", "filter_id", "skill_tier_id"]
    axes = ["ban_hero_id", "shard_id", "game_mode_id"]

    # single aggregate + post-filter (see crunch_global_delta)
    agg = _grouping_sets_agg(
        base.drop("show_in_web"), fixed, axes, _subsets(axes), measures
    )
    web_series = _web_series_ids(tables, "global")
    agg = agg.where(
        F.col("series_id").isin(web_series) | F.col("_g_game_mode_id")
    )

    hero_out, hero_ok = _axis_id(
        "ban_hero_id", hero_ids["all"], list(hero_ids.values())
    )
    mode_out, mode_ok = _axis_id(
        "game_mode_id", mode_ids["all"], list(mode_ids.values())
    )
    region_out, region_ok = _region_axis(region_ids)

    return agg.where(hero_ok & mode_ok & region_ok).select(
        now.alias("updated_at"),
        F.col("series_id"),
        F.col("filter_id"),
        hero_out.alias("hero_id"),
        mode_out.alias("game_mode_id"),
        F.col("skill_tier_id"),
        region_out.cast("bigint").alias("region_id"),
        F.col("played"),
        F.lit(0).alias("banned"),  # crunch_phases_bans.sql:14 placeholder
    )


#: merge key for global_point_bans (crunch_phases_bans.sql:26's GROUP BY)
BANS_POINT_KEY = (
    "series_id", "filter_id", "hero_id", "game_mode_id", "skill_tier_id",
    "region_id",
)


def crunch_team_fame(
    tables: Tables,
    team_id: int,
    today: Column | None = None,
) -> DataFrame:
    """crunch_team.sql as a Spark plan: 7-day weighted fame per membership.

    Two-level aggregation (crunch_team.sql:23-40): members-per-
    (team, match, roster) counts, re-joined to the match's participants ×
    the team's memberships, then a CASE-weighted sum **with no ELSE** —
    tm_cnt>3 or NULL winner yields a NULL term that SUM skips
    (crunch_team.sql:5-22); Spark ``when`` without ``otherwise`` has the
    same NULL semantics. Output (tm_id, fame) *overwrites* the target
    (crunch_team.sql:41-42) — an overwrite merge, not additive.
    """
    today = today if today is not None else F.current_date()
    p = tables["participant"]
    inner = (
        p.where(F.col("created_at") > F.date_sub(today.cast("date"), 7))
        .join(
            tables["player"].select(F.col("api_id").alias("player_api_id")),
            "player_api_id",
        )
        .join(
            F.broadcast(
                tables["team_membership"]
                .where(F.col("team_id") == team_id)
                .select(
                    F.col("id").alias("tm_id_inner"),
                    F.col("player_api_id"),
                    F.col("team_id"),
                )
            ),
            "player_api_id",
        )
        .join(
            tables["roster"].select(
                F.col("api_id").alias("roster_api_id"),
                F.col("id").alias("roster_id"),
                F.col("match_api_id").alias("r_match_api_id"),
            ),
            "roster_api_id",
        )
        .join(
            tables["match"].select(F.col("api_id").alias("r_match_api_id")),
            "r_match_api_id",
        )
        .groupBy(
            F.col("team_id").alias("t_id"),
            F.col("r_match_api_id").alias("m_api_id"),
            F.col("roster_id"),
        )
        .agg(F.count("tm_id_inner").alias("tm_cnt"))
    )
    w1 = (
        F.when(F.col("tm_cnt") == 1, F.lit(0.33).cast("decimal(10,2)"))
        .when(F.col("tm_cnt") == 2, F.lit(0.66).cast("decimal(10,2)"))
        .when(F.col("tm_cnt") == 3, F.lit(1.33).cast("decimal(10,2)"))
    )
    w2 = (
        F.when(F.col("winner"), F.lit(1).cast("decimal(10,2)"))
        .when(~F.col("winner"), F.lit(0.7).cast("decimal(10,2)"))
    )
    w3 = (
        F.when(F.col("status") == "initiate", 10)
        .when(F.col("status") == "member", 75)
        .when(F.col("status") == "veteran", 100)
        .when(F.col("status") == "officer", 125)
        .when(F.col("status") == "leader", 125)
    )
    return (
        inner.join(
            p.select("match_api_id", "player_api_id", "winner"),
            inner["m_api_id"] == F.col("match_api_id"),
        )
        .join(
            F.broadcast(
                tables["team_membership"].select(
                    F.col("id").alias("tm_id"),
                    F.col("team_id").alias("tm_team_id"),
                    F.col("player_api_id").alias("tm_player_api_id"),
                    F.col("status"),
                )
            ),
            (F.col("t_id") == F.col("tm_team_id"))
            & (F.col("player_api_id") == F.col("tm_player_api_id")),
        )
        .groupBy("tm_id")
        .agg(F.sum(w1 * w2 * w3).cast("double").alias("fame"))
    )

