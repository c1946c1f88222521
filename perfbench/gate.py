"""Post-run correctness gate (untimed). Any difference fails the run.

- Bookkeeping: no failed batch, no DLQ row, and the point table's ledger
  and the notify directory each hold exactly one entry per landed file.
- State: the final point table equals the ON-DUPLICATE fold of the seed
  delta plus one delta per landed file, compared both ways with
  ``EXCEPT ALL``. Each delta is the reference's literal SQL for the view
  (``plans.reference_oracles``) run by DuckDB over the generated tables,
  so the expected state comes from an engine other than the one under
  test. The fold is the rule of ``_mysql_add_fold`` in
  ``tests/test_merge_streaming.py``, i.e. MySQL's
  ``col = col + VALUES(col)``: a measure is NULL if any contributing delta
  is NULL, else the exact sum (doubles through DECIMAL(28,6), as
  ``PointTable`` adds them). ``updated_at`` is compared where the view
  derives it from the facts (player: max of ``created_at``, MAX policy);
  the global view stamps it with the commit's wall clock, so it is left
  out there.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pyarrow as pa

from cruncher_spark.merge.upsert import MergePolicy
from cruncher_spark.plans import reference_oracles as oracles
from cruncher_spark.schemas import ALL_TABLES

_SENTINEL = "__perfbench_batch__"

#: fact table → its participant key; these are cut to the run's ids
_FACT_KEYS = {
    "participant": "api_id",
    "participant_stats": "participant_api_id",
    "participant_items": "participant_api_id",
}


def _delta_sql(view: str, item_ids: list[int], batch: int) -> str:
    """The view's reference SELECT restricted to batch ``batch`` of ``ids``."""
    if view == "global":
        sql = oracles.crunch_global_sql([_SENTINEL], item_ids)
    elif view == "player":
        sql = oracles.crunch_player_sql([_SENTINEL], item_ids).replace(
            "COUNT(p.id) AS played,",
            "MAX(p.created_at) AS updated_at,\n    COUNT(p.id) AS played,",
        )
    else:
        raise ValueError(f"no gate for view {view!r}")
    return sql.replace(
        f"IN ('{_SENTINEL}')", f"IN (SELECT value FROM ids WHERE batch = {batch})"
    )


def check(
    worker,
    view: str,
    data: Path,
    item_ids: list[int],
    batches: list[list[str]],
    seed_ids: list[str],
    notify_dir: Path,
    dlq_rows: int,
) -> list[str]:
    """Failures found (empty when the run is correct)."""
    errors = []
    point = worker.point
    if worker.batches_failed:
        errors.append(f"batches_failed={worker.batches_failed}")
    if dlq_rows:
        errors.append(f"dlq_rows={dlq_rows}")
    ledger = len(point.applied_batches())
    notifies = len(list(notify_dir.glob("notify-*.parquet"))) if notify_dir.exists() else 0
    if not (ledger == notifies == len(batches)):
        errors.append(f"ledger={ledger} notify={notifies} landed={len(batches)}")
    if errors:
        return errors

    all_batches = ([seed_ids] if seed_ids else []) + batches
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '1GB'")
        con.execute("SET TimeZone = 'UTC'")
        ids = pa.table({
            "batch": pa.array([k for k, b in enumerate(all_batches) for _ in b], pa.int32()),
            "value": pa.array([i for b in all_batches for i in b], pa.string()),
        })
        con.register("ids", ids)
        for name in ALL_TABLES:
            src = f"read_parquet('{data}/{name}.parquet')"
            if name in _FACT_KEYS:
                con.execute(
                    f'CREATE TEMP TABLE "all_{name}" AS SELECT * FROM {src} '
                    f"WHERE {_FACT_KEYS[name]} IN (SELECT value FROM ids)"
                )
            else:
                con.execute(f'CREATE VIEW "{name}" AS SELECT * FROM {src}')
        # the literal OR-joins fan out per participant before the batch
        # filter applies, so each delta runs over its own batch's facts
        for k in range(len(all_batches)):
            for name, col in _FACT_KEYS.items():
                con.execute(
                    f'CREATE OR REPLACE VIEW "{name}" AS SELECT * FROM "all_{name}" '
                    f"WHERE {col} IN (SELECT value FROM ids WHERE batch = {k})"
                )
            sql = _delta_sql(view, item_ids, k)
            con.execute(
                f"CREATE TEMP TABLE deltas AS {sql}" if k == 0
                else f"INSERT INTO deltas {sql}"
            )
        types = dict(con.execute(
            "SELECT column_name, column_type FROM (DESCRIBE deltas)"
        ).fetchall())
        key = list(point.key)
        measures = [c for c in types if c not in key]
        folds = []
        for c in measures:
            policy = point.policies.get(c, MergePolicy.ADD)
            if policy == MergePolicy.MAX:
                folds.append(f'MAX("{c}") AS "{c}"')
            elif policy == MergePolicy.ADD:
                total = (
                    f'CAST(SUM(CAST("{c}" AS DECIMAL(28,6))) AS DOUBLE)'
                    if types[c] == "DOUBLE" else f'CAST(SUM("{c}") AS BIGINT)'
                )
                folds.append(
                    f'CASE WHEN BOOL_OR("{c}" IS NULL) THEN NULL ELSE {total} END AS "{c}"'
                )
            else:
                raise ValueError(f"gate has no fold for {c}: {policy}")
        keys = ", ".join(f'"{k}"' for k in key)
        cols = ", ".join(f'"{c}"' for c in [*key, *measures])
        con.execute(
            f"CREATE TEMP TABLE expected AS SELECT {keys}, {', '.join(folds)} "
            f"FROM deltas GROUP BY {keys}"
        )
        version = (point.path / "CURRENT").read_text().strip()
        files = point.path / version / "data" / "*" / "*.parquet"
        con.execute(
            f"CREATE TEMP TABLE actual AS SELECT {cols} "
            f"FROM read_parquet('{files}', hive_partitioning = false)"
        )
        for name, a, b in (("missing", "expected", "actual"), ("extra", "actual", "expected")):
            n = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})"
            ).fetchone()[0]
            if n:
                errors.append(f"state differs from the fold: {name} rows={n}")
    finally:
        con.close()
    return errors
