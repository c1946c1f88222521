"""The ``python -m cruncher_spark.worker`` deployment shell: worker.js's
env-var contract (QUEUE/SCRIPT/BATCHSIZE/LOAD_TIMEOUT/SLOWMODE/RELIABILITY,
worker.js:23-34) wired end-to-end — a subprocess exec against fixture
parquet must accumulate the same point table the library path produces.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from cruncher_spark import sqlfront
from cruncher_spark.merge.upsert import PointTable
from cruncher_spark.worker import BUILD_REGEX_PARAMS, build_worker, load_tables

REF = Path("/root/reference")
needs_reference = pytest.mark.skipif(
    not REF.exists(), reason="reference checkout not present"
)


def _ids(tables, n):
    return [
        r.api_id
        for r in tables["participant"].select("api_id").limit(n).collect()
    ]


def _rounded(df, drop=()):
    sel = [
        F.round(F.col(c), 6).alias(c) if t == "double" else F.col(c)
        for c, t in sorted(df.dtypes)
        if c not in drop
    ]
    return sorted(map(tuple, df.select(sel).collect()))


@needs_reference
def test_cli_subprocess_matches_library_result(spark, crunch_dir, tmp_path):
    """Exec the module as the reference deploys it: env vars only. The
    resulting point table must equal folding the literal script deltas
    through PointTable.merge by hand (the library-driven result)."""
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 40)
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.txt").write_text("\n".join(ids[:20]) + "\n")
    (landing / "b1.txt").write_text("\n".join(ids[20:]) + "\n")

    env = {
        **os.environ,
        "QUEUE": "crunch",
        "SCRIPT": str(REF / "crunch_global.sql"),
        "BATCHSIZE": "1000",
        "LOAD_TIMEOUT": "5",
        "RELIABILITY": "1.0",
        "DATABASE_URI": crunch_dir,
        "STATE_DIR": str(tmp_path / "state"),
        "SOURCE_URI": f"file:{landing}",
        "AVAILABLE_NOW": "1",
        "SPARK_GRAFT_CPUS": "8",
    }
    proc = subprocess.run(
        [sys.executable, "-m", "cruncher_spark.worker"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "drained: batches=2 failed=0" in proc.stdout, proc.stdout

    # library-driven expected: translate + delta + merge, batch by batch
    from cruncher_spark.plans.crunch import (
        GLOBAL_POINT_KEY,
        activable_item_ids,
    )
    from cruncher_spark.worker import _script_specs

    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    item_ids = sorted(activable_item_ids(tables))
    cols = _script_specs()["crunch_global.sql"].columns(item_ids)
    expected = PointTable(
        spark,
        str(tmp_path / "expected"),
        key=list(GLOBAL_POINT_KEY),
    )
    for i, batch in enumerate((ids[:20], ids[20:])):
        stmt = sqlfront.translate_script(
            (REF / "crunch_global.sql").read_text(),
            params={**BUILD_REGEX_PARAMS, "participant_api_ids": batch},
            item_ids=item_ids,
            spark=spark,
        )
        expected.merge(
            stmt.delta(spark, target_columns=cols, drop=("id", "updated_at")),
            batch_id=f"b{i}",
        )

    got = PointTable(
        spark,
        str(tmp_path / "state" / "points" / "crunch"),
        key=list(GLOBAL_POINT_KEY),
    )
    assert _rounded(got.read()) == _rounded(expected.read())

    # notify sink carries the QUEUE routing key (worker.js:184-190)
    notifies = spark.read.parquet(str(tmp_path / "state" / "notify"))
    assert notifies.count() == 2
    assert notifies.select("routing_key").distinct().collect()[0][0] == "crunch"


@needs_reference
def test_native_view_mode_equals_literal_mode(spark, crunch_dir, tmp_path):
    """SCRIPT=global (native grouping-sets plan) and SCRIPT=crunch_global.sql
    (literal front-end) accumulate the same state for the same batches."""
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 30)
    keys_df = spark.createDataFrame([(i,) for i in ids], "value string")

    results = {}
    for script in ("global", str(REF / "crunch_global.sql")):
        tag = "native" if script == "global" else "literal"
        worker = build_worker(
            spark,
            tables,
            {"QUEUE": f"q_{tag}", "SCRIPT": script,
             "STATE_DIR": str(tmp_path / tag)},
        )
        worker.process_batch(keys_df, 0)
        assert worker.batches_processed == 1 and worker.batches_failed == 0
        results[tag] = _rounded(worker.point.read(), drop=("updated_at",))
    assert results["native"] == results["literal"]
    assert len(results["native"]) > 0


def test_unknown_script_fails_loudly(spark, crunch_dir):
    tables = load_tables(spark, crunch_dir)
    with pytest.raises(SystemExit, match="not a native view"):
        build_worker(spark, tables, {"SCRIPT": "no_such_thing.sql"})


def test_read_planned_before_a_merge_collects_after_it(spark, crunch_dir, tmp_path):
    """A web-tier ``point.read()`` that the worker's next merge overtakes
    still collects: the built worker retains the version the read listed
    through one more commit."""
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 40)
    worker = build_worker(
        spark, tables,
        {"QUEUE": "race", "SCRIPT": "global", "STATE_DIR": str(tmp_path)},
    )

    def batch(part):
        return spark.createDataFrame([(i,) for i in part], "value string")

    worker.process_batch(batch(ids[:20]), 0)
    before = _rounded(worker.point.read())
    read = worker.point.read()  # lists version 1's files now
    worker.process_batch(batch(ids[20:]), 1)
    assert worker.batches_failed == 0
    assert _rounded(read) == before
    assert _rounded(worker.point.read()) != before


def test_two_workers_shared_session_concurrent(spark, crunch_dir, tmp_path):
    """VERDICT r5 next #6 (in-process half): the reference deploys one
    worker per view; two CrunchWorkers over DIFFERENT views share one
    SparkSession and run their streams CONCURRENTLY. Both point tables
    must equal the sequential library fold and both ledgers must hold
    exactly their own stream-scoped batch ids."""
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 40)
    state = tmp_path / "state"
    workers, queries = {}, {}
    for view in ("global", "player"):
        landing = tmp_path / f"landing_{view}"
        landing.mkdir()
        (landing / "b0.txt").write_text("\n".join(ids[:20]) + "\n")
        (landing / "b1.txt").write_text("\n".join(ids[20:]) + "\n")
        w = build_worker(
            spark, tables,
            {"QUEUE": f"mw_{view}", "SCRIPT": view, "STATE_DIR": str(state)},
        )
        workers[view] = w
        queries[view] = w.start_file_stream(
            str(landing),
            str(state / "checkpoints" / view),
            max_files_per_trigger=1,
            available_now=True,
        )
    # both streams are now in flight on the same session
    for view, q in queries.items():
        q.awaitTermination(300)
        assert not q.isActive, view
    for view, w in workers.items():
        assert w.batches_processed == 2 and w.batches_failed == 0, view

    # sequential library fold = expected state, per view
    for view in ("global", "player"):
        exp = build_worker(
            spark, tables,
            {"QUEUE": f"exp_{view}", "SCRIPT": view,
             "STATE_DIR": str(tmp_path / "expected")},
        )
        exp.process_batch(
            spark.createDataFrame([(i,) for i in ids[:20]], "value string"), 0
        )
        exp.process_batch(
            spark.createDataFrame([(i,) for i in ids[20:]], "value string"), 1
        )
        got = workers[view].point
        assert _rounded(got.read(), drop=("updated_at",)) == _rounded(
            exp.point.read(), drop=("updated_at",)
        ), view
        # ledger: exactly this stream's two scoped epochs, nobody else's
        ledger = got.applied_batches()
        assert len(ledger) == 2 and all(
            b.startswith("stream-") and b.endswith(("-0", "-1"))
            for b in ledger
        ), ledger

    # the two streams' ledgers are scoped per checkpoint — distinct
    scopes = {
        next(iter(workers[v].point.applied_batches())).rsplit("-", 1)[0]
        for v in workers
    }
    assert len(scopes) == 2


@needs_reference
def test_two_worker_cli_processes_concurrent(spark, crunch_dir, tmp_path):
    """VERDICT r5 next #6 (CLI half): two `python -m cruncher_spark.worker`
    processes — the literal deployment model, one per view — run at the
    same time against different queues under one STATE_DIR. Both drain
    cleanly, both point tables match the in-process result, and the
    SHARED notify sink carries both routing keys."""
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 30)
    state = tmp_path / "state"
    procs = {}
    for view, script in (("global", "crunch_global.sql"),
                         ("player", "crunch_player.sql")):
        landing = tmp_path / f"landing_{view}"
        landing.mkdir()
        (landing / "b0.txt").write_text("\n".join(ids) + "\n")
        env = {
            **os.environ,
            "QUEUE": f"cli_{view}",
            "SCRIPT": str(REF / script),
            "DATABASE_URI": crunch_dir,
            "STATE_DIR": str(state),
            "SOURCE_URI": f"file:{landing}",
            "AVAILABLE_NOW": "1",
            "SPARK_GRAFT_CPUS": "6",
        }
        procs[view] = subprocess.Popen(
            [sys.executable, "-m", "cruncher_spark.worker"],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, cwd="/root/repo",
        )
    outs = {}
    for view, p in procs.items():
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, (view, err[-3000:])
        assert "drained: batches=1 failed=0" in out, (view, out)
        outs[view] = out

    # compare each CLI table against the in-process fold of the same script
    from cruncher_spark.worker import _script_specs

    specs = _script_specs()
    keys_df = spark.createDataFrame([(i,) for i in ids], "value string")
    for view, script in (("global", "crunch_global.sql"),
                         ("player", "crunch_player.sql")):
        exp = build_worker(
            spark, tables,
            {"QUEUE": f"ecli_{view}", "SCRIPT": str(REF / script),
             "STATE_DIR": str(tmp_path / "exp")},
        )
        exp.process_batch(keys_df, 0)
        got = PointTable(
            spark, str(state / "points" / f"cli_{view}"),
            key=list(specs[script].key),
        )
        assert _rounded(got.read(), drop=("updated_at",)) == _rounded(
            exp.point.read(), drop=("updated_at",)
        ), view
        assert len(got.applied_batches()) == 1

    # both workers notified through the SHARED sink with their own keys
    notifies = spark.read.parquet(str(state / "notify"))
    assert {r.routing_key for r in notifies.collect()} == {
        "cli_global", "cli_player"
    }


def test_literal_script_worker_folds_one_batch(spark, crunch_dir, tmp_path):
    """The path the default ``SCRIPT=crunch_global.sql`` selects (literal
    SQL through sqlfront, into the served point table), driven by a small
    in-repo script in the reference's dialect: one batch's point table is
    the script's SELECT run once over those ids, in one bucket file."""
    import json

    from cruncher_spark.plans.crunch import GLOBAL_POINT_KEY, activable_item_ids
    from cruncher_spark.worker import _script_specs

    script = Path(__file__).parent / "scripts" / "crunch_global.sql"
    tables = load_tables(spark, crunch_dir)
    ids = _ids(tables, 50)
    worker = build_worker(
        spark,
        tables,
        {"QUEUE": "crunch", "SCRIPT": str(script),
         "STATE_DIR": str(tmp_path / "state")},
    )
    keys_df = spark.createDataFrame([(i,) for i in ids], "value string")
    worker.process_batch(keys_df, 0)
    assert worker.batches_processed == 1 and worker.batches_failed == 0

    item_ids = sorted(activable_item_ids(tables))
    stmt = sqlfront.translate_script(
        script.read_text(),
        params={"participant_api_ids": ids},
        item_ids=item_ids,
        spark=spark,
    )
    expected = stmt.delta(
        spark,
        target_columns=_script_specs()["crunch_global.sql"].columns(item_ids),
        drop=("id", "updated_at"),
    )
    got = worker.point.read()
    assert _rounded(got) == _rounded(expected)
    # one played per batch id that has stats and item rows
    joined = tables["participant"].where(F.col("api_id").isin(ids))
    for fact in ("participant_stats", "participant_items"):
        joined = joined.join(
            tables[fact].withColumnRenamed("participant_api_id", "api_id"), "api_id"
        )
    assert got.agg(F.sum("played")).first()[0] == joined.count() > 0
    assert worker.point.key == list(GLOBAL_POINT_KEY)

    # the served table's sized layout: one bucket, one file
    cur = worker.point._current_version()
    assert json.loads((cur / "meta.json").read_text())["num_buckets"] == 1
    assert len(list((cur / "data").rglob("*.parquet"))) == 1
