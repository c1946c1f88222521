"""Edge-case dimension rows: the literal dimension snapshots in
``plans.crunch`` (series, skill bands, builds, specific filters) against
the literal reference SQL (``plans.reference_oracles``) in DuckDB.

The fixture tables are copied with rows the seed data does not have: a
series with a NULL end, an extra overlapping series, a skill band with a
NULL start, a build with an item but a NULL count, an all-wildcard build,
two specific filters with one name, a view (player) with no specific
filter, and duplicate bridge rows.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyspark.sql.functions as F
import pytest

from cruncher_spark import fixtures
from cruncher_spark.plans import crunch as C
from cruncher_spark.plans import reference_oracles as O
from cruncher_spark.schemas import ALL_TABLES
from tests.test_crunch_global import assert_same

ITEMS = [14, 22, 31]


def _now():
    return F.lit("2026-08-10 12:00:00").cast("timestamp")


def _edge_rows() -> dict[str, list[tuple]]:
    rows = fixtures.generate()
    rows["series"] = rows["series"] + [
        (11, "open_end", "global", dt.datetime(2026, 8, 1), None, True),
        (12, "overlap", "global", dt.datetime(2026, 7, 15), dt.datetime(2026, 8, 20), True),
        (13, "overlap_daily", "player", dt.datetime(2026, 8, 5), dt.datetime(2026, 8, 9), False),
    ]
    rows["skill_tier"] = rows["skill_tier"] + [(5, "platinum", None, 35)]
    rows["build"] = rows["build"] + [
        (5, "no_count", "global", 14, None) + (None, None) * 5,
        (6, "wildcard", "global") + (None, None) * 6,
    ]
    # filter 6 repeats filter 2's name; the player view loses its only
    # specific filter
    rows["filter"] = [f for f in rows["filter"] if f[0] != 5] + [(6, "featured", "global")]
    matches = [m for (m,) in rows["match"]]
    gpf = rows["global_point_filters"]
    rows["global_point_filters"] = (
        gpf + gpf[::3] + [(m, 6) for m in matches[::2]] + [(m, 6) for m in matches[::4]]
    )
    return rows


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("crunch_edge_dims")
    fixtures.write_parquet(spark, str(out), _edge_rows())
    tables = {
        name: spark.read.schema(schema).parquet(f"{out}/{name}.parquet")
        for name, schema in ALL_TABLES.items()
    }
    con = duckdb.connect()
    for name in ALL_TABLES:
        con.execute(
            f'CREATE VIEW "{name}" AS '
            f"SELECT * FROM read_parquet('{out}/{name}.parquet/*.parquet')"
        )
    yield tables, con
    con.close()


def _batch(tables, n):
    return [r.api_id for r in tables["participant"].select("api_id").limit(n).collect()]


def test_global_edge_dims_match_reference(edge):
    tables, con = edge
    batch = _batch(tables, 120)
    delta = C.crunch_global_delta(tables, batch, now=_now()).drop("updated_at")
    oracle = con.execute(O.crunch_global_sql(batch, ITEMS))
    assert_same(delta, oracle, [c for c in C.GLOBAL_POINT_KEY if not c.endswith("2_id")])
    got = {r.series_id for r in delta.select("series_id").distinct().collect()}
    assert 12 in got and 11 not in got
    builds = {r.build_id for r in delta.select("build_id").distinct().collect()}
    assert 6 in builds and 5 not in builds
    assert delta.where("filter_id = 6").count() > 0


def test_player_edge_dims_match_reference(edge):
    tables, con = edge
    batch = _batch(tables, 120)
    delta = C.crunch_player_delta(tables, batch).drop("updated_at")
    oracle = con.execute(O.crunch_player_sql(batch, ITEMS))
    assert_same(delta, oracle, list(C.PLAYER_POINT_KEY))
    assert {r.filter_id for r in delta.select("filter_id").distinct().collect()} == {4}


def test_hero_vs_hero_edge_dims_match_reference(edge):
    tables, con = edge
    batch = _batch(tables, 60)
    delta = C.crunch_hero_vs_hero_delta(tables, batch, now=_now()).drop("updated_at")
    oracle = con.execute(O.crunch_hero_vs_hero_sql(batch, ITEMS))
    assert_same(delta, oracle, list(C.HERO_VS_HERO_KEY))
