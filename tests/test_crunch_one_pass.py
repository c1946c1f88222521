"""A batch reads its facts once: the fact joins are built (and checkpointed)
once per batch in ``plans.crunch._fact_base``, not once per fan-out arm.

The input records of every stage a delta runs are read back from Spark's
status store, per job group. Reads of the checkpointed base count there
too (cached-block reads are input records), so the bound is one pass over
the fact tables and the dimension and bridge tables, plus one read of the
batch's base per fan-out arm.
"""

from __future__ import annotations

import pytest

from cruncher_spark.plans import crunch as C

FACTS = ("participant", "participant_stats", "participant_items")
DIMS = (
    "hero", "role", "region", "game_mode", "skill_tier", "series", "filter",
    "build", "item", "global_point_filters",
)


def _input_records(spark, group: str) -> int:
    """Summed ``inputRecords`` of the completed stages of ``group``'s jobs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = store.jobsList(None)
    total = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        ids = job.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(ids.apply(k), False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "COMPLETE":
                    total += sd.inputRecords()
    return total


@pytest.mark.parametrize(
    "view, plan, arms",
    [
        # global fans the base out over filter x tier x build arms
        ("global", C.crunch_global_delta, 8),
        ("player", C.crunch_player_delta, 1),
    ],
)
def test_delta_reads_facts_once(spark, crunch_tables, view, plan, arms):
    ids = [
        r.api_id
        for r in crunch_tables["participant"].select("api_id").limit(120).collect()
    ]
    batch = spark.createDataFrame([(i,) for i in ids], "value string")
    plan(crunch_tables, batch).collect()  # warm the dimension-id cache
    group = f"one-pass-{view}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        plan(crunch_tables, batch).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    rows = {t: crunch_tables[t].count() for t in FACTS + DIMS}
    # one stats row and at most one items row per participant: the
    # checkpointed base has at most one row per batch id
    bound = sum(rows.values()) + arms * len(ids)
    got = _input_records(spark, group)
    assert 0 < got <= bound, f"{view}: {got} input records > bound {bound} ({rows})"


def test_delta_scans_no_dimension_table(spark, crunch_tables):
    """The dims are snapshotted once per process and enter each later plan
    as literals: a warm delta reads no dimension table, only its facts and
    the ``global_point_filters`` bridge."""
    ids = [
        r.api_id
        for r in crunch_tables["participant"].select("api_id").limit(60).collect()
    ]
    phase_ids = [
        r.id
        for r in crunch_tables["participant_phases"].select("id").limit(60).collect()
    ]
    views = {
        "global": (C.crunch_global_delta, ids),
        "player": (C.crunch_player_delta, ids),
        "hero_vs_hero": (C.crunch_hero_vs_hero_delta, ids),
        "phases": (C.crunch_phases_delta, phase_ids),
        "phases_bans": (C.crunch_phases_bans_delta, phase_ids),
    }
    dims = [d for d in DIMS if d != "global_point_filters"]
    for view, (plan, batch) in views.items():
        plan(crunch_tables, batch)  # warm the dimension snapshots
        files = plan(crunch_tables, batch).inputFiles()
        scanned = [d for d in dims if any(f"/{d}.parquet/" in f for f in files)]
        assert not scanned, f"{view} scans {scanned}"
