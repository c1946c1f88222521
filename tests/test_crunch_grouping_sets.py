"""The crunch deltas aggregate in one task.

``plans.crunch._grouping_sets_agg`` expands the grouping sets itself (one
``inline`` per row) instead of through Spark's ``Expand``, and
``_fact_base`` hands the arms one partition, so a warm delta plans no
shuffle exchange and a one-bucket point-table merge of it is one job.
The expansion is checked row for row against Spark's own GROUPING SETS.
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from cruncher_spark import observe
from cruncher_spark.api import CRUNCH_VIEWS
from cruncher_spark.plans import crunch as C
from cruncher_spark.streaming.worker import served_point_table

_SCHEMA = "f0 int, f1 string, a0 int, a1 bigint, a2 string, a3 int, v long, d double"

#: the set lists the five views pass (plans/crunch.py)
_AX4 = ["a0", "a1", "a2", "a3"]
_AX3 = ["a0", "a1", "a2"]
_AX2 = ["a0", "a1"]
_SET_LISTS = {
    "cube4 (global, phases)": (_AX4, C._subsets(_AX4)),
    "player": (
        _AX3,
        [hr + gm for hr in [(), ("a0",), ("a1",)] for gm in [(), ("a2",)]],
    ),
    "hero_vs_hero": (_AX2, [(), ("a0",), ("a1",), ("a0", "a1")]),
    "cube3 (bans)": (_AX3, C._subsets(_AX3)),
}


def _oracle(df, fixed, axes, sets, aggs):
    """GROUPING SETS as Spark plans them (``Expand``), flags from
    ``grouping_id()``: the form ``_grouping_sets_agg`` replaces."""
    cols = list(fixed) + list(axes)
    out = df.groupingSets(
        [list(fixed) + list(s) for s in sets], *cols
    ).agg(F.grouping_id().alias("_gid"), *aggs)
    n = len(axes)
    flags = [
        (F.col("_gid").bitwiseAND(F.lit(1 << (n - 1 - i))) != 0).alias(f"_g_{a}")
        for i, a in enumerate(axes)
    ]
    names = [c for c in out.columns if c != "_gid" and c not in cols]
    return out.select(*cols, *flags, *names)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _data(n=300, seed=7):
    """Repeated keys (few distinct values) with NULLs in every axis."""
    rnd = random.Random(seed)

    def pick(vals):
        return None if rnd.random() < 0.2 else rnd.choice(vals)

    return [
        (
            rnd.choice([1, 2]), rnd.choice(["x", "y"]),
            pick([1, 2, 3]), pick([10, 20]), pick(["eu", "na", "sg"]), pick([5, 6]),
            rnd.randrange(100), pick([0.25, 1.5]),
        )
        for _ in range(n)
    ]


@pytest.mark.parametrize("which", list(_SET_LISTS))
@pytest.mark.parametrize("rows", ["data", "empty"])
def test_expansion_equals_grouping_sets(spark, which, rows):
    axes, sets = _SET_LISTS[which]
    data = _data() if rows == "data" else []
    df = spark.createDataFrame(data, _SCHEMA).repartition(3)
    fixed = ["f0", "f1"]
    # an aggregate over an axis column reads the original value, not the
    # rolled-up NULL, as under GROUPING SETS
    aggs = lambda: [  # noqa: E731
        F.count("*").alias("n"),
        F.sum("v").alias("v"),
        F.max("d").alias("d_max"),
        F.count("a0").alias("a0_seen"),
    ]
    got = C._grouping_sets_agg(df, fixed, axes, sets, aggs())
    want = _oracle(df, fixed, axes, sets, aggs())
    assert got.columns == want.columns
    assert dict(got.dtypes) == dict(want.dtypes)
    got_rows, want_rows = _rows(got), _rows(want)
    assert got_rows == want_rows
    assert bool(got_rows) == (rows == "data")


def _ids(tables, start, n):
    rows = tables["participant"].select("api_id").orderBy("api_id").collect()
    return [r.api_id for r in rows[start:start + n]]


@pytest.mark.parametrize("view", ["global", "player", "hero_vs_hero"])
def test_warm_delta_plans_no_shuffle(spark, crunch_tables, view):
    """Fact base (one partition) → fan-out arms → expansion → partial and
    final aggregate: the executed plan has no exchange but the bridge's
    broadcast."""
    plan = CRUNCH_VIEWS[view][0]
    ids = _ids(crunch_tables, 0, 120)
    plan(crunch_tables, ids).collect()  # warm the dimension snapshots
    df = plan(crunch_tables, ids)
    assert df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(
        r"(?:ShuffleQueryStage|Exchange (?:hash|range|Single|RoundRobin)).*",
        executed,
    )
    assert not shuffles, f"{view}: {shuffles}"


def test_one_bucket_merge_of_a_warm_global_delta_is_one_job(
    spark, crunch_tables, tmp_path
):
    """The served global table is one bucket: its merge runs delta,
    stored scan, fold, sort and write as one job that shuffles nothing.
    Only the 'all' filter is kept, so the plan has no bridge: with
    specific filters, the bridge's broadcast is one more job."""
    tables = {
        **crunch_tables, "filter": crunch_tables["filter"].where("name = 'all'")
    }
    builder, key, policies = CRUNCH_VIEWS["global"]
    pt = served_point_table(spark, str(tmp_path / "global"), key, policies)
    pt.merge(builder(tables, _ids(tables, 0, 60)), batch_id="b0")
    delta = builder(tables, _ids(tables, 30, 60))
    group = f"one-task-merge-{tmp_path.name}"
    with observe.job_group(spark, group):
        assert pt.merge(delta, batch_id="b1") is True
    tot = observe.group_totals(spark, group)
    assert pt.num_buckets == 1
    assert tot["jobs"] == 1, tot
    assert tot["shuffle_bytes"] == 0, tot
