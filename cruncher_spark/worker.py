"""``python -m cruncher_spark.worker`` — the reference worker's deployment
shell, env-var for env-var.

worker.js is deployed N times, one process per materialized view, and its
ENTIRE configuration contract is environment variables (worker.js:23-34).
This module reads the same names with the same defaults and runs one
:class:`~cruncher_spark.streaming.worker.CrunchWorker` the same way:

==============  =====================================================
``QUEUE``       queue name (worker.js:23, default ``crunch``) — names
                the landing subdir, checkpoint, point table, notify
                routing key and DLQ, exactly the role it plays there
``SCRIPT``      worker.js:24, default ``crunch_global.sql``. Either a
                path to a literal reference ``.sql`` script (run
                unmodified through :func:`sqlfront.script_plan_fn`) or
                a native view name (``crunch_global`` / ``global`` …)
                running the grouping-sets plan from ``plans/crunch.py``
``BATCHSIZE``   ids per micro-batch (worker.js:29, default 1000) —
                file source: one bridge file per trigger (each file
                holds <= BATCHSIZE ids); kafka: ``maxOffsetsPerTrigger``
``LOAD_TIMEOUT``micro-batch trigger seconds (worker.js:30, default 5)
``SLOWMODE``    sleep seconds before each batch (worker.js:31-32)
``RELIABILITY`` sampling fraction (worker.js:33-34, default 1.0)
``RABBITMQ_URI``worker.js:20 — when set (``amqp://host[:port]``), an
                AMQP bridge thread drains QUEUE into the landing dir
                (streaming/amqp.py ack-after-durable protocol)
``DATABASE_URI``worker.js:21's MySQL DSN, here the directory of crunch
                parquet tables (default ``./cruncher_db``)
==============  =====================================================

Spark-deployment additions (no reference counterpart, all optional):

``SOURCE_URI``     ``file:<dir>`` landing dir (default
                   ``<STATE_DIR>/landing/<QUEUE>``) or
                   ``kafka:<bootstrap>/<topic>``
``STATE_DIR``      root for point table / checkpoint / notify / DLQ
                   (default ``./cruncher_state``)
``AVAILABLE_NOW``  ``1`` → drain pending input, print a summary line,
                   exit (catch-up & CI mode; otherwise runs forever
                   like the reference's event loop)

``crunch_team.sql`` is NOT a queue worker in the reference either — it
has a separate per-team invoker (SURVEY.md §3.4); run it through
``sqlfront.translate_script`` + ``PointTable.merge`` directly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from cruncher_spark.merge.upsert import MergePolicy
from cruncher_spark.streaming.worker import CrunchWorker, served_point_table

#: the build-slot regex fragments worker.js:199-201 passes as sequelize
#: replacements into every script's `b.item_N` conditions
BUILD_REGEX_PARAMS = {
    "build_regex_start": "^([[:digit:]]+;[[:digit:]]+,)*(",
    "build_regex_end": ")+(,[[:digit:]]+;[[:digit:]]+)*$",
}

#: the shared stats-measure tail of global/player/hero_vs_hero
#: (crunch_global.sql:17-35 order)
_STATS_TAIL = (
    "kills", "deaths", "assists", "farm", "minion_kills", "jungle_kills",
    "non_jungle_minion_kills", "crystal_mine_captures", "gold_mine_captures",
    "kraken_captures", "turret_captures", "gold", "impact_score", "surrender",
)


def _item_cols(item_ids: list[int]) -> list[str]:
    return [f"item_{k:03d}_use" for k in item_ids]


@dataclass(frozen=True)
class ScriptSpec:
    """Positional column contract of one reference script's INSERT.

    The reference scripts INSERT positionally (``select null, now(), …``)
    and rely on the ORM's table definition for column names
    (worker.js:72); these lists ARE that definition, reconstructed from
    each script's select order (FIXTURES.md)."""

    key: tuple[str, ...]
    columns: Callable[[list[int]], list[str]]


def _global_columns(items: list[int]) -> list[str]:
    # crunch_global.sql:2-35 select order
    return [
        "id", "updated_at", "series_id", "filter_id", "hero_id",
        "game_mode_id", "skill_tier_id", "build_id", "role_id", "hero2_id",
        "role2_id", "region_id", "played", "wins", "trueskill_delta",
        "time_spent", *_STATS_TAIL, *_item_cols(items),
    ]


def _player_columns(items: list[int]) -> list[str]:
    # crunch_player.sql:2-32 select order
    return [
        "id", "updated_at", "player_api_id", "series_id", "filter_id",
        "hero_id", "game_mode_id", "role_id", "played", "wins",
        "time_spent", *_STATS_TAIL, *_item_cols(items),
    ]


def _hero_vs_hero_columns(items: list[int]) -> list[str]:
    # crunch_hero_vs_hero.sql:2-37 select order (duration, not time_spent)
    return [
        "id", "updated_at", "series_id", "filter_id", "hero_id", "role_id",
        "hero2_id", "role2_id", "played_with", "game_mode_id",
        "skill_tier_id", "region_id", "played", "wins", "trueskill_delta",
        "duration", *_STATS_TAIL, *_item_cols(items),
    ]


def _phases_columns(items: list[int]) -> list[str]:
    # crunch_phases.sql:2-78: keys, phase slice, played/wins/time_spent,
    # then the 59 phase measures IN PARTICIPANT_PHASES FIELD ORDER (the
    # schema reconstruction preserved the script's sum order), then items
    from cruncher_spark.schemas import PHASE_MEASURES

    return [
        "id", "updated_at", "series_id", "filter_id", "hero_id",
        "game_mode_id", "skill_tier_id", "build_id", "role_id", "region_id",
        "phase_start", "phase_end", "played", "wins", "time_spent",
        *PHASE_MEASURES, *_item_cols(items),
    ]


def _bans_columns(items: list[int]) -> list[str]:
    # crunch_phases_bans.sql:2-14 select order (no item stub)
    return [
        "id", "updated_at", "series_id", "filter_id", "hero_id",
        "game_mode_id", "skill_tier_id", "region_id", "played", "banned",
    ]


def _script_specs() -> dict[str, ScriptSpec]:
    from cruncher_spark.plans import crunch as cp

    return {
        "crunch_global.sql": ScriptSpec(cp.GLOBAL_POINT_KEY, _global_columns),
        "crunch_player.sql": ScriptSpec(cp.PLAYER_POINT_KEY, _player_columns),
        "crunch_hero_vs_hero.sql": ScriptSpec(
            cp.HERO_VS_HERO_KEY, _hero_vs_hero_columns
        ),
        "crunch_phases.sql": ScriptSpec(cp.PHASE_POINT_KEY, _phases_columns),
        "crunch_phases_bans.sql": ScriptSpec(cp.BANS_POINT_KEY, _bans_columns),
    }


#: native view aliases: SCRIPT values that select the grouping-sets plans
#: instead of the literal-SQL front-end (same views, same point tables)
_NATIVE_ALIASES = {
    "global": "global", "crunch_global": "global",
    "player": "player", "crunch_player": "player",
    "hero_vs_hero": "hero_vs_hero", "crunch_hero_vs_hero": "hero_vs_hero",
    "phases": "phases", "crunch_phases": "phases",
    "phases_bans": "phases_bans", "crunch_phases_bans": "phases_bans",
}


def load_tables(spark: SparkSession, database_uri: str) -> dict[str, DataFrame]:
    """The worker.js:72 ORM load: every crunch table, schema-pinned."""
    from cruncher_spark.schemas import ALL_TABLES

    return {
        name: spark.read.schema(schema).parquet(f"{database_uri}/{name}.parquet")
        for name, schema in ALL_TABLES.items()
    }


def build_worker(
    spark: SparkSession,
    tables: Mapping[str, DataFrame],
    env: Mapping[str, str],
) -> CrunchWorker:
    """Wire a CrunchWorker from the worker.js env contract. Pure function
    of (tables, env) so tests can drive it in-process."""
    from cruncher_spark.plans.crunch import activable_item_ids

    queue = env.get("QUEUE", "crunch")
    script = env.get("SCRIPT", "crunch_global.sql")
    state_dir = Path(env.get("STATE_DIR", "./cruncher_state"))
    reliability = float(env.get("RELIABILITY", "1.0"))
    slowmode = float(env.get("SLOWMODE", "0"))

    if script in _NATIVE_ALIASES:
        # native mode: the grouping-sets plans (plans/crunch.py)
        from cruncher_spark.api import CRUNCH_VIEWS

        builder, key, policies = CRUNCH_VIEWS[_NATIVE_ALIASES[script]]
        plan_fn = lambda tbls, batch: builder(tbls, batch)  # noqa: E731
    else:
        # literal mode: the unmodified reference .sql through sqlfront
        from cruncher_spark import sqlfront

        specs = _script_specs()
        name = Path(script).name
        if name not in specs:
            raise SystemExit(
                f"SCRIPT={script!r}: not a native view "
                f"({', '.join(sorted(set(_NATIVE_ALIASES)))}) and not a known "
                f"reference script ({', '.join(specs)})"
            )
        text = Path(script).read_text()
        spec = specs[name]
        # register views BEFORE the stream starts: foreachBatch runs on a
        # CLONED SparkSession that snapshots the temp-view catalog at
        # stream start — views registered lazily inside the first batch
        # would land on the parent session and stay invisible to the clone
        for name_, df in tables.items():
            df.createOrReplaceTempView(name_)
        item_ids = sorted(activable_item_ids(dict(tables)))
        target_columns = spec.columns(item_ids)
        key = spec.key
        # MySQL ODKU semantics: a column absent from the ON DUPLICATE list
        # keeps the OLD value — map every unlisted non-key column to KEEP
        # (PointTable's default would be ADD)
        policies = dict(sqlfront.script_policies(text, item_ids=item_ids))
        for c in target_columns:
            if c in ("id", "updated_at") or c in key:
                continue
            policies.setdefault(c, MergePolicy.KEEP)
        plan_fn = sqlfront.script_plan_fn(
            text,
            target_columns=target_columns,
            item_ids=item_ids,
            params=BUILD_REGEX_PARAMS,
            drop=("id", "updated_at"),
        )

    point = served_point_table(
        spark, str(state_dir / "points" / queue), list(key), policies
    )
    return CrunchWorker(
        spark,
        dict(tables),
        plan_fn,
        point,
        reliability=reliability,
        slowmode_seconds=slowmode,
        quarantine_dir=str(state_dir / "dlq" / queue),
        notify_dir=str(state_dir / "notify"),
        notify_routing_key=queue,
    )


def main(env: Mapping[str, str] | None = None) -> int:
    env = dict(os.environ if env is None else env)
    from cruncher_spark.session import get_spark

    queue = env.get("QUEUE", "crunch")
    state_dir = Path(env.get("STATE_DIR", "./cruncher_state"))
    database_uri = env.get("DATABASE_URI", "./cruncher_db")
    batchsize = int(env.get("BATCHSIZE", "1000"))
    load_timeout = float(env.get("LOAD_TIMEOUT", "5"))
    available_now = env.get("AVAILABLE_NOW", "") == "1"
    source_uri = env.get("SOURCE_URI", f"file:{state_dir / 'landing' / queue}")

    spark = get_spark(f"cruncher-{queue}")
    spark.sparkContext.setLogLevel("ERROR")
    worker = build_worker(spark, load_tables(spark, database_uri), env)
    checkpoint = str(state_dir / "checkpoints" / queue)

    if source_uri.startswith("kafka:"):
        bootstrap, _, topic = source_uri[len("kafka:"):].rpartition("/")
        q = worker.start_kafka_stream(
            bootstrap,
            topic,
            checkpoint,
            trigger_seconds=load_timeout,
            max_offsets_per_trigger=batchsize,
            available_now=available_now,
        )
    else:
        landing = source_uri.removeprefix("file:")
        Path(landing).mkdir(parents=True, exist_ok=True)
        if env.get("RABBITMQ_URI"):
            _start_amqp_bridge(
                env["RABBITMQ_URI"], queue, landing,
                batch_size=batchsize, once=available_now,
                timeout_s=load_timeout,
            )
        q = worker.start_file_stream(
            landing,
            checkpoint,
            trigger_seconds=load_timeout,
            max_files_per_trigger=1,  # one bridge file == one BATCHSIZE batch
            available_now=available_now,
        )

    print(
        f"cruncher worker up: QUEUE={queue} SCRIPT={env.get('SCRIPT', 'crunch_global.sql')} "
        f"BATCHSIZE={batchsize} LOAD_TIMEOUT={load_timeout} source={source_uri}",
        flush=True,
    )
    q.awaitTermination()
    # an empty drain (or one where every batch failed into the DLQ) never
    # initializes the point table — report 0 rows, don't crash the summary
    state_rows = worker.point.read().count() if worker.point.exists() else 0
    print(
        f"drained: batches={worker.batches_processed} "
        f"failed={worker.batches_failed} "
        f"state_rows={state_rows}",
        flush=True,
    )
    return 1 if worker.batches_failed else 0


def _start_amqp_bridge(
    uri: str,
    queue: str,
    landing_dir: str,
    *,
    batch_size: int,
    once: bool,
    timeout_s: float | None = None,
) -> dict:
    """Drain RABBITMQ_URI's queue into the landing dir (ack-after-durable;
    streaming/amqp.py), flushing each batch at BATCHSIZE messages or
    LOAD_TIMEOUT seconds, whichever first — the reference's exact
    count-or-timeout contract (worker.js:29-30,147-148). ``once`` drains
    what's queued now; otherwise a daemon thread keeps bridging like the
    reference's channel.consume."""
    import threading
    import time
    from urllib.parse import urlparse

    from cruncher_spark.streaming.amqp import AmqpClient, drain_to_landing_dir

    u = urlparse(uri)
    host, port = u.hostname or "localhost", u.port or 5672
    client = AmqpClient(host, port).connect()
    health = {"alive": True, "reconnects": 0, "last_error": None}

    def pump():
        nonlocal client
        backoff = 1.0
        while True:
            try:
                drain_to_landing_dir(
                    client, queue, landing_dir,
                    batch_size=batch_size, timeout_s=timeout_s,
                )
                backoff = 1.0
                if once:
                    break
            except (ConnectionError, OSError) as e:
                # ADVICE r5: a broker disconnect used to kill this daemon
                # thread silently while the Spark stream idled forever.
                # Reconnect with capped exponential backoff — the
                # reference process would crash and be restarted by its
                # supervisor (worker.js has no reconnect either); a
                # bridge thread can't crash the driver, so it restores
                # the connection itself and surfaces state via `health`.
                if once:
                    health["alive"] = False
                    health["last_error"] = repr(e)
                    raise
                health["last_error"] = repr(e)
                print(
                    f"amqp bridge: connection lost ({e!r}); "
                    f"reconnecting in {backoff:.0f}s",
                    file=sys.stderr, flush=True,
                )
                try:
                    client.close()
                except Exception:
                    pass
                # reconnect-until-success INSIDE the handler: returning to
                # the drain loop with a dead client would raise through a
                # different exception type and kill the thread — the exact
                # silent death this handler exists to prevent
                while True:
                    time.sleep(backoff)
                    backoff = min(backoff * 2, 30.0)
                    try:
                        client = AmqpClient(host, port).connect()
                        health["reconnects"] += 1
                        break
                    except (ConnectionError, OSError) as e2:
                        health["last_error"] = repr(e2)
                        print(
                            f"amqp bridge: reconnect failed ({e2!r}); "
                            f"retrying in {backoff:.0f}s",
                            file=sys.stderr, flush=True,
                        )
        health["alive"] = not once or health["last_error"] is None

    if once:
        pump()
    else:
        threading.Thread(target=pump, daemon=True).start()
    return health


if __name__ == "__main__":  # pragma: no cover - subprocess entry
    sys.exit(main())
