"""Seeded, vectorized generator of crunch-shaped tables.

Writes every table of ``cruncher_spark.schemas.ALL_TABLES`` as one parquet
file ``<out>/<name>.parquet`` (the layout ``worker.load_tables`` and the
DuckDB oracles read), with the value domains of ``cruncher_spark.fixtures``:

- the fixture dimension rows (heroes, roles, regions, modes, tiers, items,
  overlapping global/player series, filters, builds) unchanged;
- participants pick hero 99 (absent from the hero dim) one time in five,
  shard ``cn`` (no region row) one time in four, and a NULL winner ~8% of
  the time;
- ~20% of participants have no ``participant_items`` row;
- ``item_grants`` and ``item_uses`` draw from seeded pools of the fixture
  shapes (repeated items, counts >= 2, non-activable keys).

Participant count and player-pool size are parameters; output is cached
on disk by (seed, sizes), so a second call with the same arguments reads
nothing but a marker file.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cruncher_spark import fixtures as fx
from cruncher_spark.schemas import ALL_TABLES, PHASE_MEASURES

#: participants per match (two rosters of three), as in the fixtures
PER_MATCH = 6
#: participant_phases rows are written for this many participants only:
#: the global and player views never read phases, but the table must exist
PHASED_PARTICIPANTS = 600

_EPOCH = dt.datetime(1970, 1, 1)
_NOW_US = int((fx.NOW - _EPOCH).total_seconds() * 1_000_000)
_DAY_US = 86_400 * 1_000_000


def _arrow_type(dtype) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return pa.map_(_arrow_type(dtype.keyType), _arrow_type(dtype.valueType))
    return {
        T.StringType: pa.string(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.DoubleType: pa.float64(),
        T.BooleanType: pa.bool_(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
    }[type(dtype)]


def _arrow_schema(name: str) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in ALL_TABLES[name].fields]
    )


def _rows_table(name: str, rows: list[tuple]) -> pa.Table:
    schema = _arrow_schema(name)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """uniform(lo, hi) rounded to 2 decimals, like the fixtures' doubles."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _grant_pool(rng: np.random.Generator, size: int = 512) -> list[str]:
    items = np.array([14, 22, 31, 40, 55])
    counts = np.array([1, 1, 2, 3])
    pool = []
    for _ in range(size):
        n = int(rng.integers(1, 5))
        parts = [
            f"{items[rng.integers(5)]};{counts[rng.integers(4)]}" for _ in range(n)
        ]
        pool.append(",".join(parts))
    return pool


def _uses_pool(rng: np.random.Generator, size: int = 256) -> list[list[tuple[int, int]]]:
    pool = []
    for _ in range(size):
        uses = {
            k: int(rng.integers(1, 6))
            for k in fx.ACTIVABLE_ITEM_IDS
            if rng.random() < 0.7
        }
        uses[int(rng.choice([40, 55, 77]))] = int(rng.integers(1, 4))
        pool.append(sorted(uses.items()))
    return pool


def _map_array(pool: list[list[tuple[int, int]]], pick: np.ndarray) -> pa.MapArray:
    """MapArray whose row i is ``pool[pick[i]]``, built without a Python
    loop over rows."""
    lens = np.array([len(m) for m in pool], dtype=np.int32)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    flat_k = np.array([k for m in pool for k, _ in m], dtype=np.int32)
    flat_v = np.array([v for m in pool for _, v in m], dtype=np.int32)
    row_lens = lens[pick]
    offsets = np.concatenate([[0], np.cumsum(row_lens)]).astype(np.int32)
    idx = np.repeat(starts[pick] - offsets[:-1], row_lens) + np.arange(offsets[-1])
    return pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(flat_k[idx]), pa.array(flat_v[idx])
    )


def _labels(prefix: str, ids: np.ndarray) -> pa.Array:
    """``prefix + str(id)`` per element, computed in Arrow."""
    return pc.binary_join_element_wise(
        prefix, pa.array(ids).cast(pa.string()), ""
    )


def generate_tables(
    n_participants: int, n_players: int, seed: int
) -> dict[str, pa.Table]:
    """Arrow tables for every crunch table; deterministic in the arguments."""
    rng = np.random.default_rng(seed)
    n_matches = max(1, n_participants // PER_MATCH)
    n = n_matches * PER_MATCH
    out: dict[str, pa.Table] = {}

    for name, rows in (
        ("hero", fx.HEROES), ("role", fx.ROLES), ("region", fx.REGIONS),
        ("game_mode", fx.GAME_MODES), ("skill_tier", fx.SKILL_TIERS),
        ("item", fx.ITEMS), ("series", fx._series_rows()),
        ("filter", fx.FILTERS), ("build", fx.BUILDS),
        ("team", [(1, "alpha"), (2, "beta"), (3, "gamma")]),
    ):
        out[name] = _rows_table(name, rows)

    players = np.arange(n_players)
    out["player"] = pa.table(
        {"api_id": _labels("player-", players), "name": _labels("name-player-", players)},
        schema=_arrow_schema("player"),
    )
    tm_players = rng.choice(n_players, size=(3, min(12, n_players)), replace=False)
    statuses = np.array(["initiate", "member", "veteran", "officer", "leader"])
    n_tm = tm_players.size
    out["team_membership"] = pa.table(
        {
            "id": np.arange(1, n_tm + 1, dtype=np.int64),
            "team_id": np.repeat(np.arange(1, 4, dtype=np.int64), tm_players.shape[1]),
            "player_api_id": _labels("player-", tm_players.ravel()),
            "status": pa.array(statuses[rng.integers(5, size=n_tm)]),
            "fame": np.zeros(n_tm),
        },
        schema=_arrow_schema("team_membership"),
    )

    # --- matches -----------------------------------------------------------
    m = np.arange(n_matches)
    match_api = _labels("match-", m)
    out["match"] = pa.table({"api_id": match_api}, schema=_arrow_schema("match"))
    days = np.array([0, 1, 2, 5, 8, 20, 45])[rng.integers(7, size=n_matches)]
    created_m = (
        _NOW_US
        - days * _DAY_US
        - rng.integers(24, size=n_matches) * 3_600_000_000
        - rng.integers(60, size=n_matches) * 60_000_000
    )
    mode_m = rng.integers(2, 5, size=n_matches)
    shard_m = np.array(["na", "eu", "sg", "cn"])[rng.integers(4, size=n_matches)]
    winner_side_m = rng.integers(2, size=n_matches)
    n_filters = np.array([0, 1, 2])[rng.integers(3, size=n_matches)]
    first = np.where(rng.random(n_matches) < 0.5, 2, 3)
    gpf_m = np.concatenate([m[n_filters >= 1], m[n_filters == 2]])
    gpf_f = np.concatenate([first[n_filters >= 1], 5 - first[n_filters == 2]])
    out["global_point_filters"] = pa.table(
        {"match_api_id": _labels("match-", gpf_m), "filter_id": gpf_f.astype(np.int64)},
        schema=_arrow_schema("global_point_filters"),
    )
    side_r = np.tile([0, 1], n_matches)
    roster_m = np.repeat(m, 2)
    roster_api = pc.binary_join_element_wise(
        _labels("roster-", roster_m), pa.array(np.array(["a", "b"])[side_r]), "-"
    )
    out["roster"] = pa.table(
        {
            "api_id": roster_api,
            "id": np.arange(2 * n_matches, dtype=np.int64),
            "match_api_id": _labels("match-", roster_m),
        },
        schema=_arrow_schema("roster"),
    )

    # --- participants (six per match) --------------------------------------
    pid = np.arange(1, n + 1, dtype=np.int64)
    pm = np.repeat(m, PER_MATCH)
    side = np.tile(np.arange(PER_MATCH) % 2, n_matches)
    created = pa.array(np.repeat(created_m, PER_MATCH), pa.timestamp("us", tz="UTC"))
    winner = pa.array(
        side == np.repeat(winner_side_m, PER_MATCH), mask=rng.random(n) < 0.08
    )
    api = _labels("p-", pid)
    out["participant"] = pa.table(
        {
            "id": pid,
            "api_id": api,
            "match_api_id": _labels("match-", pm),
            "player_api_id": _labels("player-", rng.integers(n_players, size=n)),
            "roster_api_id": roster_api.take(pa.array(2 * pm + side)),
            "hero_id": np.array([2, 3, 4, 5, 99], dtype=np.int64)[rng.integers(5, size=n)],
            "role_id": rng.integers(2, 5, size=n).astype(np.int64),
            "shard_id": pa.array(np.repeat(shard_m, PER_MATCH)),
            "game_mode_id": np.repeat(mode_m, PER_MATCH).astype(np.int64),
            "skill_tier": rng.integers(0, 30, size=n).astype(np.int32),
            "winner": winner,
            "trueskill_delta": _cents(rng, -5, 5, n),
            "created_at": created,
        },
        schema=_arrow_schema("participant"),
    )

    def ints(lo: int, hi: int) -> np.ndarray:
        return rng.integers(lo, hi, size=n).astype(np.int32)

    grants = np.array(_grant_pool(rng), dtype=object)
    out["participant_stats"] = pa.table(
        {
            "participant_api_id": api,
            "created_at": created,
            "duration": ints(600, 1800),
            "kills": ints(0, 15),
            "deaths": ints(0, 12),
            "assists": ints(0, 20),
            "farm": _cents(rng, 0, 90, n),
            "minion_kills": ints(0, 120),
            "jungle_kills": ints(0, 40),
            "non_jungle_minion_kills": ints(0, 100),
            "crystal_mine_captures": ints(0, 3),
            "gold_mine_captures": ints(0, 3),
            "kraken_captures": ints(0, 2),
            "turret_captures": ints(0, 6),
            "gold": ints(2000, 14000),
            "impact_score": _cents(rng, 0, 200, n),
            "item_grants": pa.array(grants[rng.integers(len(grants), size=n)]),
        },
        schema=_arrow_schema("participant_stats"),
    )

    uses = _uses_pool(rng)
    has_items = np.flatnonzero(rng.random(n) < 0.8)
    out["participant_items"] = pa.table(
        {
            "participant_api_id": api.take(pa.array(has_items)),
            "surrender": rng.integers(2, size=has_items.size).astype(np.int32),
            "item_uses": _map_array(uses, rng.integers(len(uses), size=has_items.size)),
        },
        schema=_arrow_schema("participant_items"),
    )

    # phases: two per participant for the first PHASED_PARTICIPANTS only
    k = min(n, PHASED_PARTICIPANTS)
    nph = 2 * k
    ph_cols = {
        "id": _labels("ph-", np.arange(1, nph + 1)),
        "participant_api_id": api.take(pa.array(np.repeat(np.arange(k), 2))),
        "start": np.tile([0, 300], k).astype(np.int32),
        "end": np.tile([300, 600], k).astype(np.int32),
        "ban": pa.array(
            np.array([2, 3, 4, 5])[rng.integers(4, size=nph)],
            pa.int64(),
            mask=rng.random(nph) < 0.2,
        ),
        "item_uses": _map_array(uses, rng.integers(len(uses), size=nph)),
    }
    phase_fields = {f.name: f for f in ALL_TABLES["participant_phases"].fields}
    for c in PHASE_MEASURES:
        if _arrow_type(phase_fields[c].dataType) == pa.int32():
            ph_cols[c] = rng.integers(0, 20, size=nph).astype(np.int32)
        else:
            ph_cols[c] = _cents(rng, 0, 500, nph)
    out["participant_phases"] = pa.table(ph_cols, schema=_arrow_schema("participant_phases"))
    return out


def ensure_tables(
    root: Path, n_participants: int, n_players: int, seed: int
) -> Path:
    """The cached table directory for (seed, sizes), generated on a miss.

    Generation writes into a temp dir renamed into place, so an interrupted
    run never leaves a half-written cache entry behind."""
    out = root / f"crunch-n{n_participants}-p{n_players}-s{seed}"
    if (out / "_DONE").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in generate_tables(n_participants, n_players, seed).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
