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

from cruncher_spark import observe
from cruncher_spark.plans import crunch as C

FACTS = ("participant", "participant_stats", "participant_items")
DIMS = (
    "hero", "role", "region", "game_mode", "skill_tier", "series", "filter",
    "build", "item", "global_point_filters",
)


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
    plan(crunch_tables, ids).collect()  # warm the dimension snapshots
    group = f"one-pass-{view}"
    with observe.job_group(spark, group):
        plan(crunch_tables, ids).collect()

    rows = {t: crunch_tables[t].count() for t in FACTS + DIMS}
    # one stats row and at most one items row per participant: the
    # checkpointed base has at most one row per batch id
    bound = sum(rows.values()) + arms * len(ids)
    got = observe.group_totals(spark, group)["input_rows"]
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
