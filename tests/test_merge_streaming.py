"""Merge layer + streaming shell: incremental state ≡ one-shot batch."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from cruncher_spark.merge import MergePolicy, PointTable
from cruncher_spark.plans.crunch import (
    GLOBAL_POINT_KEY,
    crunch_global_delta,
    crunch_team_fame,
)
from cruncher_spark.streaming import CrunchWorker


def _now():
    return F.lit("2026-08-10 12:00:00").cast("timestamp")


GLOBAL_POLICIES = {"updated_at": MergePolicy.KEEP}


def _global_point(spark, tmp_path, name="gp"):
    return PointTable(
        spark,
        str(tmp_path / name),
        key=GLOBAL_POINT_KEY,
        policies=GLOBAL_POLICIES,
    )


def _ids(tables, n=60):
    return [
        r.api_id for r in tables["participant"].select("api_id").limit(n).collect()
    ]


def _assert_frames_equal(a, b, drop=()):
    if drop:
        a, b = a.drop(*drop), b.drop(*drop)
    assert sorted(a.columns) == sorted(b.columns)
    b = b.select(*a.columns)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _mysql_add_fold(deltas, key):
    """Fold a list of delta frames the way ON DUPLICATE KEY UPDATE does:
    per key, a measure is NULL if ANY contributing delta is NULL
    (MySQL ``NULL + x = NULL``), else the exact sum."""
    u = deltas[0]
    for d in deltas[1:]:
        u = u.unionByName(d)
    dtypes = dict(u.dtypes)

    def fold(c):
        s = (
            F.sum(F.col(c).cast("decimal(28,6)"))
            if dtypes[c] == "double"
            else F.sum(c)
        )
        return (
            F.when(F.max(F.col(c).isNull().cast("int")) == 1, F.lit(None))
            .otherwise(s)
            .cast(dtypes[c])
            .alias(c)
        )

    measures = [c for c in u.columns if c not in key and c != "updated_at"]
    return u.groupBy(*key).agg(
        F.max("updated_at").alias("updated_at"),
        *[fold(c) for c in measures],
    )


def test_incremental_merge_equals_batch_fold(spark, crunch_tables, tmp_path):
    """Three sequential merges == the ON-DUPLICATE fold of the three
    deltas (crunch_global.sql:68-87) — including the reference's
    NULL-poisoning add (a cell touched by an all-NULL-winner batch stays
    NULL) and per-batch impact_score rounding. The last two merge into
    four buckets."""
    ids = _ids(crunch_tables, 60)
    point = _global_point(spark, tmp_path)
    deltas = [
        crunch_global_delta(crunch_tables, ids[lo : lo + 20], now=_now())
        for lo in range(0, 60, 20)
    ]
    for i, d in enumerate(deltas):
        point.merge(d, batch_id=f"b{i}")
        if i == 0:
            point.rebucket(4)
    expected = _mysql_add_fold(deltas, list(GLOBAL_POINT_KEY))
    _assert_frames_equal(point.read(), expected)


def test_replay_is_idempotent_with_ledger(spark, crunch_tables, tmp_path):
    ids = _ids(crunch_tables, 20)
    delta = crunch_global_delta(crunch_tables, ids, now=_now())
    point = _global_point(spark, tmp_path)
    assert point.merge(delta, batch_id="b0") is True
    before = point.read().agg(F.sum("played")).collect()[0][0]
    assert point.merge(delta, batch_id="b0") is False  # redelivery
    after = point.read().agg(F.sum("played")).collect()[0][0]
    assert before == after


def test_replay_double_counts_without_ledger(spark, crunch_tables, tmp_path):
    """batch_id=None reproduces the reference's at-least-once semantics
    (worker.js:167-182): a replayed batch adds twice."""
    ids = _ids(crunch_tables, 20)
    delta = crunch_global_delta(crunch_tables, ids, now=_now())
    point = _global_point(spark, tmp_path)
    point.merge(delta, batch_id=None)
    before = point.read().agg(F.sum("played")).collect()[0][0]
    point.merge(delta, batch_id=None)
    assert point.read().agg(F.sum("played")).collect()[0][0] == 2 * before


def _file_digests(pt):
    """Each data sub-dir of ``pt``'s current version → the sorted md5s
    of its parquet files (file names carry a per-write uuid)."""
    import hashlib

    data = pt._current_version() / "data"
    out = {}
    for f in data.rglob("*.parquet"):
        key = str(f.parent.relative_to(data))
        out.setdefault(key, []).append(hashlib.md5(f.read_bytes()).hexdigest())
    return {k: sorted(v) for k, v in out.items()}


def test_same_batches_write_byte_identical_tables(spark, crunch_tables, tmp_path):
    """Two fresh global-view tables fed the same ``crunch_global_delta``
    batches, with ``now`` pinned, store the same bytes, file for file:
    the merge adds no order-dependent value (a double summed in a
    different order, a row written in a different order). Unpinned,
    ``updated_at`` is ``current_timestamp()`` under KEEP, and its value
    alone changes the files."""
    ids = _ids(crunch_tables, 60)
    tables = [_global_point(spark, tmp_path, name) for name in ("a", "b")]
    for pt in tables:
        for i, lo in enumerate(range(0, 60, 20)):
            delta = crunch_global_delta(crunch_tables, ids[lo : lo + 20], now=_now())
            pt.merge(delta, batch_id=f"b{i}")
    a, b = (_file_digests(pt) for pt in tables)
    assert a and a == b


def test_max_and_overwrite_policies(spark, tmp_path):
    point = PointTable(
        spark,
        str(tmp_path / "pt"),
        key=["k"],
        policies={"seen": MergePolicy.MAX, "fame": MergePolicy.OVERWRITE,
                  "label": MergePolicy.KEEP},
    )
    df1 = spark.createDataFrame(
        [(1, 10, 5.0, "first"), (2, 20, 6.0, "first")],
        "k int, seen int, fame double, label string",
    )
    df2 = spark.createDataFrame(
        [(1, 5, 9.0, "second"), (3, 30, 7.0, "second")],
        "k int, seen int, fame double, label string",
    )
    point.merge(df1, batch_id="a")
    point.merge(df2, batch_id="b")
    rows = {r.k: r for r in point.read().collect()}
    assert rows[1].seen == 10 and rows[1].fame == 9.0 and rows[1].label == "first"
    assert rows[2].seen == 20 and rows[2].fame == 6.0
    assert rows[3].seen == 30 and rows[3].fame == 7.0


def test_team_fame_overwrite_merge(spark, crunch_tables, tmp_path):
    """S4: team fame is recompute-and-overwrite (crunch_team.sql:41-42)."""
    point = PointTable(
        spark,
        str(tmp_path / "fame"),
        key=["tm_id"],
        policies={"fame": MergePolicy.OVERWRITE},
    )
    fame1 = crunch_team_fame(crunch_tables, 1, today=F.lit("2026-08-10"))
    point.merge(fame1, batch_id="t1-run1")
    fame2 = crunch_team_fame(crunch_tables, 1, today=F.lit("2026-08-12"))
    point.merge(fame2, batch_id="t1-run2")
    expect = {r.tm_id: r.fame for r in fame2.collect()}
    got = {r.tm_id: r.fame for r in point.read().collect() if r.tm_id in expect}
    assert got == expect


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    """O(delta) merge: a delta touching one key rewrites only that key's
    hash bucket; every other bucket's files are hard-linked (same inode —
    zero data movement) into the new version, and the ledger commits in
    the same atomic pointer flip (no applied-but-unrecorded window)."""
    import os

    point = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    base = spark.createDataFrame(
        [(i, 1) for i in range(64)], "k int, n int"
    )
    point.merge(base, batch_id="seed")
    point.rebucket(8)

    def bucket_inodes():
        cur = point._current_version()
        return {
            d.name: {f.name: os.stat(f).st_ino for f in d.iterdir() if f.is_file()}
            for d in (cur / "data").iterdir()
            if d.is_dir()
        }

    before = bucket_inodes()
    point.merge(
        spark.createDataFrame([(3, 10)], "k int, n int"), batch_id="one-key"
    )
    after = bucket_inodes()

    from pyspark.sql import functions as SF

    touched = point.spark.createDataFrame([(3,)], "k int").select(
        SF.pmod(SF.hash("k"), SF.lit(8)).alias("b")
    ).collect()[0][0]
    touched_dir = f"pt_bucket={touched}"

    assert touched_dir in before and touched_dir in after
    for name, inodes in after.items():
        if name == touched_dir:
            assert inodes != before[name]  # rewritten
        else:
            assert inodes == before[name]  # hard-linked, byte-identical

    # merged value landed; all other rows untouched
    rows = {r.k: r.n for r in point.read().collect()}
    assert rows[3] == 11 and rows[5] == 1 and len(rows) == 64
    # ledger committed atomically with the data
    assert point.applied_batches() == {"seed", "one-key"}


def test_rebucket_rescales_layout_preserving_state(spark, tmp_path):
    """rebucket() changes the hash layout behind one atomic pointer flip:
    state and ledger survive byte-for-value, merges keep working at the
    new bucket count, and replay idempotence is preserved."""
    point = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    point.merge(
        spark.createDataFrame([(i, i * 10) for i in range(40)], "k int, n int"),
        batch_id="seed",
    )
    before = {r.k: r.n for r in point.read().collect()}

    point.rebucket(16)
    cur = point._current_version()
    assert json.loads((cur / "meta.json").read_text())["num_buckets"] == 16
    n_dirs = len([d for d in (cur / "data").iterdir() if d.is_dir()])
    assert n_dirs > 4  # actually spread over the wider layout
    assert {r.k: r.n for r in point.read().collect()} == before
    # ledger carried forward: replaying the seed batch is still a no-op
    assert point.applied_batches() == {"seed"}
    assert point.merge(
        spark.createDataFrame([(0, 999)], "k int, n int"), batch_id="seed"
    ) is False

    # a fresh handle (new process) picks the persisted bucket count up
    reopened = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    reopened.merge(
        spark.createDataFrame([(2, 1), (99, 5)], "k int, n int"), batch_id="b2"
    )
    assert reopened.num_buckets == 16
    rows = {r.k: r.n for r in reopened.read().collect()}
    assert rows[2] == 21 and rows[99] == 5 and len(rows) == 41

    # downscale works too (compaction direction)
    reopened.rebucket(2)
    rows2 = {r.k: r.n for r in reopened.read().collect()}
    assert rows2 == rows
    assert reopened.applied_batches() == {"seed", "b2"}


def test_merge_without_recorded_schema_falls_back_to_inference(spark, tmp_path):
    """A version whose meta.json has no ``schema`` key (written before the
    key existed) is read by schema inference; the merge still folds."""
    point = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    point.merge(
        spark.createDataFrame([(i, i) for i in range(16)], "k int, n long"),
        batch_id="seed",
    )
    meta_path = point._current_version() / "meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["schema"]
    meta_path.write_text(json.dumps(meta))

    point.merge(
        spark.createDataFrame([(3, 10), (99, 5)], "k int, n long"), batch_id="b1"
    )
    assert {r.k: r.n for r in point.read().collect()} == {
        **{i: i for i in range(16)}, 3: 13, 99: 5,
    }
    # the new version records the schema again
    assert json.loads((point._current_version() / "meta.json").read_text())["schema"]


def test_merge_keeps_stored_decimal_precision(spark, tmp_path):
    """ADD on DECIMAL widens the sum (decimal(18,6) + decimal(18,6) is
    decimal(19,6)); the merge casts it back, so every file keeps the
    precision meta.json records, which is the schema the next merge's
    bucket read is pinned to. Four buckets: a merge rewrites some and
    hard-links the others."""
    from decimal import Decimal

    import pyarrow.parquet as pq
    from pyspark.sql.types import DecimalType, StructType

    schema = "k int, d decimal(18,6)"
    point = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    point.merge(
        spark.createDataFrame([(i, Decimal("1.000001")) for i in range(16)], schema),
        batch_id="seed",
    )
    point.rebucket(4)
    for b in range(3):
        point.merge(
            spark.createDataFrame(
                [(3, Decimal("0.5")), (100 + b, Decimal("2"))], schema
            ),
            batch_id=f"b{b}",
        )

    cur = point._current_version()
    recorded = StructType.fromJson(
        json.loads(json.loads((cur / "meta.json").read_text())["schema"])
    )
    assert recorded["d"].dataType == DecimalType(18, 6)
    for f in (cur / "data").rglob("*.parquet"):
        assert str(pq.read_schema(f).field("d").type) == "decimal128(18, 6)", f
    state = point.read()
    assert dict(state.dtypes)["d"] == "decimal(18,6)"
    assert {r.k: r.d for r in state.collect()} == {
        **{i: Decimal("1.000001") for i in range(16)},
        3: Decimal("2.500001"),
        100: Decimal("2"), 101: Decimal("2"), 102: Decimal("2"),
    }


# --- streaming ------------------------------------------------------------


@pytest.fixture()
def id_stream_dir(tmp_path, crunch_tables):
    ids = _ids(crunch_tables, 60)
    d = tmp_path / "ids_in"
    d.mkdir()
    for i, lo in enumerate(range(0, 60, 20)):
        (d / f"batch_{i}.txt").write_text("\n".join(ids[lo : lo + 20]) + "\n")
    return d, ids


def test_stream_accumulates_to_batch_result(
    spark, crunch_tables, tmp_path, id_stream_dir
):
    d, ids = id_stream_dir
    point = _global_point(spark, tmp_path, "gp_stream")
    worker = CrunchWorker(
        spark,
        crunch_tables,
        lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
        point,
        quarantine_dir=str(tmp_path / "dlq"),
        notify_dir=str(tmp_path / "notify"),
        notify_routing_key="global",
    )
    q = worker.start_file_stream(
        str(d),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)
    assert worker.batches_processed == 3 and worker.batches_failed == 0
    deltas = [
        crunch_global_delta(crunch_tables, ids[lo : lo + 20], now=_now())
        for lo in range(0, 60, 20)
    ]
    expected = _mysql_add_fold(deltas, list(GLOBAL_POINT_KEY))
    _assert_frames_equal(point.read(), expected)
    notifies = spark.read.parquet(str(tmp_path / "notify"))
    assert notifies.count() == 3
    assert notifies.select("routing_key").distinct().collect()[0][0] == "global"


def test_kafka_shaped_stream_accumulates(
    spark, crunch_tables, tmp_path, id_stream_dir
):
    """S1 Kafka branch: the sandbox has no broker/connector jar, so the
    identical decode + pipeline runs over a stream with the EXACT kafka
    source schema (binary key/value + topic/partition/offset/timestamp),
    fed from files. Verifies decode_kafka_values + _start_stream — every
    line of the Kafka path except format("kafka").load() itself."""
    d, ids = id_stream_dir
    point = _global_point(spark, tmp_path, "gp_kafka")
    worker = CrunchWorker(
        spark,
        crunch_tables,
        lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
        point,
        quarantine_dir=str(tmp_path / "dlq_k"),
    )
    # file stream reshaped to the kafka source's columns/types
    kafka_shaped = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select(
            F.lit(None).cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            F.lit("crunch").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.lit(0).cast("long").alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).cast("int").alias("timestampType"),
        )
    )
    q = worker._start_stream(
        CrunchWorker.decode_kafka_values(kafka_shaped),
        str(tmp_path / "ckpt_k"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert worker.batches_processed == 3 and worker.batches_failed == 0
    deltas = [
        crunch_global_delta(crunch_tables, ids[lo : lo + 20], now=_now())
        for lo in range(0, 60, 20)
    ]
    expected = _mysql_add_fold(deltas, list(GLOBAL_POINT_KEY))
    _assert_frames_equal(point.read(), expected)


def test_kafka_reader_configures(spark, crunch_tables, tmp_path):
    """The format("kafka") reader builds with prefetch/offset options; the
    connector jar is absent in the sandbox, so .load() is expected to fail
    with DATA_SOURCE_NOT_FOUND there (and succeed where it is deployed)."""
    point = _global_point(spark, tmp_path, "gp_kr")
    worker = CrunchWorker(spark, crunch_tables, lambda t, b: b, point)
    reader = worker.kafka_reader(
        "broker:9092", "crunch", max_offsets_per_trigger=1000
    )
    assert reader is not None
    try:
        reader.load()
    except Exception as e:  # noqa: BLE001 - connector absent is acceptable
        assert "kafka" in str(e).lower()


def test_stream_poison_and_dlq(spark, crunch_tables, tmp_path, id_stream_dir):
    d, ids = id_stream_dir
    (d / "batch_poison.txt").write_text("x" * 2000 + "\n")
    point = _global_point(spark, tmp_path, "gp_poison")
    boom = {"n": 0}

    def plan(tables, batch):
        # inject on the 2nd NON-EMPTY batch: the file source breaks
        # equal-mtime ties nondeterministically, so a positional "2nd
        # batch" can land on the poison-only batch — whose post-filter id
        # set is empty, quarantining 0 crunch_failed rows (observed flake)
        if len(batch) > 0:
            boom["n"] += 1
            if boom["n"] == 2:  # fail exactly one micro-batch
                raise RuntimeError("injected crunch failure")
        return crunch_global_delta(tables, batch, now=_now())

    worker = CrunchWorker(
        spark,
        crunch_tables,
        plan,
        point,
        quarantine_dir=str(tmp_path / "dlq2"),
    )
    q = worker.start_file_stream(
        str(d),
        str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)
    assert worker.batches_failed == 1
    dlq = spark.read.parquet(str(tmp_path / "dlq2"))
    reasons = {r.reason for r in dlq.select("reason").distinct().collect()}
    assert "poison" in reasons and "crunch_failed" in reasons
    # every poisoned message is quarantined, none crunched
    assert dlq.where(F.col("reason") == "poison").count() == 1


def _global_worker(spark, crunch_tables, tmp_path, name, **kw):
    return CrunchWorker(
        spark,
        crunch_tables,
        lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
        _global_point(spark, tmp_path, name),
        notify_dir=str(tmp_path / "notify"),
        **kw,
    )


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "value string")


def _played(point):
    return point.read().agg(F.sum("played")).collect()[0][0]


def test_clean_batch_writes_no_dlq(spark, crunch_tables, tmp_path):
    """A batch without poisoned ids or failures writes nothing to the DLQ."""
    worker = _global_worker(
        spark, crunch_tables, tmp_path, "gp_clean",
        quarantine_dir=str(tmp_path / "dlq"),
    )
    worker.process_batch(_ids_df(spark, _ids(crunch_tables, 20)), 0)
    assert worker.batches_processed == 1 and worker.batches_failed == 0
    assert not (tmp_path / "dlq").exists()


def test_poison_guard_counts_utf8_bytes(spark, crunch_tables, tmp_path):
    """The 1 KiB bound is in bytes (worker.js:129-137): 600 two-byte
    characters are 1,200 bytes, so the id is quarantined, not crunched."""
    poison = "é" * 600
    worker = _global_worker(
        spark, crunch_tables, tmp_path, "gp_bytes",
        quarantine_dir=str(tmp_path / "dlq"),
    )
    worker.process_batch(_ids_df(spark, _ids(crunch_tables, 20) + [poison]), 0)
    assert worker.batches_processed == 1 and worker.batches_failed == 0
    dlq = spark.read.parquet(str(tmp_path / "dlq")).collect()
    assert [(r.value, r.reason, r.batch_id) for r in dlq] == [(poison, "poison", "0")]
    assert dlq[0].quarantined_at is not None


def test_notify_failure_after_commit_is_not_dead_lettered(
    spark, crunch_tables, tmp_path, monkeypatch
):
    """The merge committed, so a failing notify write must not send the
    batch's ids to the DLQ as crunch_failed: the worker re-raises for a
    replay instead."""
    worker = _global_worker(
        spark, crunch_tables, tmp_path, "gp_notify",
        quarantine_dir=str(tmp_path / "dlq"),
    )
    orig = worker._append_notify
    calls = {"n": 0}

    def flaky(batch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected notify failure")
        orig(batch_id)

    monkeypatch.setattr(worker, "_append_notify", flaky)
    with pytest.raises(OSError):
        worker.process_batch(_ids_df(spark, _ids(crunch_tables, 20)), 0)
    assert worker.batches_failed == 0
    assert not (tmp_path / "dlq").exists()  # no crunch_failed rows
    assert worker._ledger_id(0) in worker.point.applied_batches()


def test_replay_after_notify_failure_writes_notify(
    spark, crunch_tables, tmp_path, monkeypatch
):
    """The replay of a batch whose notify was lost is a ledger no-op that
    still writes its ``notify-<ledger id>`` file."""
    worker = _global_worker(spark, crunch_tables, tmp_path, "gp_renotify")
    orig = worker._append_notify

    def boom(batch_id):
        raise OSError("injected notify failure")

    batch = _ids_df(spark, _ids(crunch_tables, 20))
    monkeypatch.setattr(worker, "_append_notify", boom)
    with pytest.raises(OSError):
        worker.process_batch(batch, 3)
    played = _played(worker.point)
    notify = tmp_path / "notify" / f"notify-{worker._ledger_id(3)}.parquet"
    assert not notify.exists()

    monkeypatch.setattr(worker, "_append_notify", orig)
    worker.process_batch(batch, 3)  # redelivery
    assert notify.exists()
    assert _played(worker.point) == played  # the replay applied nothing
    rows = spark.read.parquet(str(notify)).collect()
    assert [(r.event, r.batch_id) for r in rows] == [("crunch_update", worker._ledger_id(3))]


def test_restart_from_checkpoint_is_exactly_once(spark, crunch_tables, tmp_path):
    """Stop the worker, add new batches, start a FRESH worker instance on
    the same checkpoint + table: already-committed batches are neither
    re-read (source checkpoint) nor re-applied if redelivered (ledger),
    and the final state equals the one-shot fold of all batches."""
    ids = _ids(crunch_tables, 60)
    d = tmp_path / "ids"
    d.mkdir()
    for i, lo in enumerate(range(0, 40, 20)):
        (d / f"b{i}.txt").write_text("\n".join(ids[lo : lo + 20]) + "\n")

    point = _global_point(spark, tmp_path, "gp_restart")

    def make_worker():
        return CrunchWorker(
            spark,
            crunch_tables,
            lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
            point,
        )

    w1 = make_worker()
    q1 = w1.start_file_stream(
        str(d), str(tmp_path / "ckpt"), max_files_per_trigger=1,
        available_now=True,
    )
    q1.awaitTermination(300)
    assert w1.batches_processed == 2

    # new data lands while the worker is down
    (d / "b2.txt").write_text("\n".join(ids[40:60]) + "\n")

    w2 = make_worker()
    q2 = w2.start_file_stream(
        str(d), str(tmp_path / "ckpt"), max_files_per_trigger=1,
        available_now=True,
    )
    q2.awaitTermination(300)
    # the restarted instance processed ONLY the new batch
    assert w2.batches_processed == 1 and w2.batches_failed == 0

    deltas = [
        crunch_global_delta(crunch_tables, ids[lo : lo + 20], now=_now())
        for lo in range(0, 60, 20)
    ]
    expected = _mysql_add_fold(deltas, list(GLOBAL_POINT_KEY))
    _assert_frames_equal(point.read(), expected)


def test_two_streams_one_point_table_do_not_collide_on_epochs(
    spark, crunch_tables, tmp_path
):
    """ADVICE r4: ledger batch ids must be scoped per stream. Two workers
    feeding ONE PointTable both start at epoch 0; unscoped ids would make
    the second stream's every batch a 'duplicate' of the first's and
    silently drop it. Each stream here carries DISJOINT ids, so the
    merged total proves both actually applied."""
    ids = _ids(crunch_tables, 40)
    point = _global_point(spark, tmp_path, "gp_shared")

    def feed(sub_ids, tag):
        d = tmp_path / f"in_{tag}"
        d.mkdir()
        (d / "b0.txt").write_text("\n".join(sub_ids) + "\n")
        worker = CrunchWorker(
            spark,
            crunch_tables,
            lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
            point,
        )
        q = worker.start_file_stream(
            str(d), str(tmp_path / f"ckpt_{tag}"), available_now=True
        )
        q.awaitTermination(300)
        assert worker.batches_processed == 1 and worker.batches_failed == 0
        return worker

    w1 = feed(ids[:20], "a")
    w2 = feed(ids[20:], "b")
    assert w1.stream_id != w2.stream_id  # derived from checkpoint paths

    expected = _mysql_add_fold(
        [
            crunch_global_delta(crunch_tables, ids[:20], now=_now()),
            crunch_global_delta(crunch_tables, ids[20:], now=_now()),
        ],
        list(GLOBAL_POINT_KEY),
    )
    _assert_frames_equal(point.read(), expected)
    # both scoped epochs are in the ledger
    applied = point.applied_batches()
    assert {f"stream-{w1.stream_id}-0", f"stream-{w2.stream_id}-0"} <= applied


def test_crash_before_pointer_flip_leaves_table_consistent(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER writing the new version dir but BEFORE the CURRENT
    pointer flip must leave readers on the old version, and a retried
    merge must succeed (the leftover half-written version dir is
    reclaimed), landing exactly the once-applied state."""
    from cruncher_spark.merge.upsert import PointTable

    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    pt.merge(spark.createDataFrame([(1, 10)], "k int, n int"), batch_id="b0")
    before = sorted(map(tuple, pt.read().collect()))

    real_flip = PointTable._flip

    def crashing_flip(self, new):
        raise RuntimeError("simulated crash before commit point")

    monkeypatch.setattr(PointTable, "_flip", crashing_flip)
    delta = spark.createDataFrame([(1, 5), (2, 7)], "k int, n int")
    with pytest.raises(RuntimeError, match="simulated crash"):
        pt.merge(delta, batch_id="b1")
    # not committed: readers still see the old version, ledger unchanged
    assert sorted(map(tuple, pt.read().collect())) == before
    assert pt.applied_batches() == {"b0"}

    monkeypatch.setattr(PointTable, "_flip", real_flip)
    assert pt.merge(delta, batch_id="b1") is True
    assert sorted(map(tuple, pt.read().collect())) == [(1, 15), (2, 7)]
    assert pt.applied_batches() == {"b0", "b1"}


def test_concurrent_merges_serialize_without_losing_deltas(spark, tmp_path):
    """Two writers racing one PointTable: the advisory writer lock
    serializes them, so BOTH deltas land (pre-lock, both built v_{N+1}
    and the last pointer flip silently discarded the other's delta).
    A duplicate batch_id racing itself applies exactly once."""
    import threading

    from cruncher_spark.merge.upsert import PointTable

    pt = PointTable(spark, str(tmp_path / "ptc"), key=["k"])
    pt.merge(spark.createDataFrame([(0, 1)], "k int, n int"), batch_id="seed")

    results = {}
    barrier = threading.Barrier(2)

    def writer(tag, rows, batch_id):
        df = spark.createDataFrame(rows, "k int, n int")
        barrier.wait()
        results[tag] = pt.merge(df, batch_id=batch_id)

    t1 = threading.Thread(target=writer, args=("a", [(1, 10)], "w-a"))
    t2 = threading.Thread(target=writer, args=("b", [(2, 20)], "w-b"))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert results == {"a": True, "b": True}
    assert sorted(map(tuple, pt.read().collect())) == [(0, 1), (1, 10), (2, 20)]

    # duplicate batch_id race: exactly one side applies
    results.clear()
    t3 = threading.Thread(target=writer, args=("x", [(3, 30)], "dup"))
    t4 = threading.Thread(target=writer, args=("y", [(3, 30)], "dup"))
    t3.start(); t4.start(); t3.join(120); t4.join(120)
    assert sorted(results.values()) == [False, True]
    assert sorted(map(tuple, pt.read().collect())) == [
        (0, 1), (1, 10), (2, 20), (3, 30)
    ]


def test_legacy_checkpoint_without_marker_fails_loudly(tmp_path):
    """ADVICE r5: a pre-upgrade checkpoint (Spark stream state present,
    no .cruncher-stream-id marker) must NOT silently mint a fresh ledger
    scope — its ledger holds bare epoch ids, so a new scope would replay
    the last uncommitted epoch under a new id and double-apply it. The
    resolver now detects the legacy shape and demands an explicit
    decision (reset, or an explicitly pinned stream_id)."""
    from cruncher_spark.streaming.worker import checkpoint_stream_id

    cp = tmp_path / "legacy-cp"
    (cp / "offsets").mkdir(parents=True)
    (cp / "offsets" / "0").write_text("{}")
    with pytest.raises(RuntimeError, match="stream-id scoping"):
        checkpoint_stream_id(str(cp))

    # a genuinely fresh checkpoint dir still mints and persists a marker
    fresh = tmp_path / "fresh-cp"
    sid = checkpoint_stream_id(str(fresh))
    assert sid and checkpoint_stream_id(str(fresh)) == sid


def test_rebucket_online_with_concurrent_merge(spark, tmp_path):
    """VERDICT r5 next #7: a table that grows 100x must be re-tunable
    ONLINE. rebucket(8 -> 64) and a merge run concurrently from two
    threads; the WRITER.lock serializes them (r6 fix -- previously
    rebucket skipped the lock and the last pointer flip silently
    discarded the other writer), so afterwards BOTH effects are present:
    the 64-bucket layout, the merged delta, and a ledger holding every
    batch id."""
    import threading

    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    pt.merge(
        spark.createDataFrame(
            [(i, i * 10) for i in range(200)], "k int, n int"
        ),
        batch_id="seed",
    )
    pt.rebucket(8)
    before = {r.k: r.n for r in pt.read().collect()}

    # separate handles, as two writers would have
    rb = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    mg = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    errs = []

    def do_rebucket():
        try:
            rb.rebucket(64)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errs.append(e)

    def do_merge():
        try:
            mg.merge(
                spark.createDataFrame([(3, 1), (777, 7)], "k int, n int"),
                batch_id="delta",
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=do_rebucket)
    t2 = threading.Thread(target=do_merge)
    t1.start(); t2.start(); t1.join(300); t2.join(300)
    assert not errs, errs

    fresh = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    rows = {r.k: r.n for r in fresh.read().collect()}
    want = dict(before)
    want[3] = before[3] + 1
    want[777] = 7
    assert rows == want
    assert fresh.applied_batches() == {"seed", "delta"}
    import json as _json

    meta = _json.loads(
        (fresh._current_version() / "meta.json").read_text()
    )
    assert meta["num_buckets"] == 64
    # replay stays idempotent across the migration
    assert fresh.merge(
        spark.createDataFrame([(3, 999)], "k int, n int"), batch_id="delta"
    ) is False


def _fold(*deltas):
    out = {}
    for d in deltas:
        for k, n in d:
            out[k] = out.get(k, 0) + n
    return out


def test_bucket_layout_grows_with_state_in_one_commit(spark, tmp_path):
    """A bucketed table doubles its bucket count while the stored bytes
    exceed ``spark.sql.files.openCostInBytes`` per bucket. The growing
    merge is one version that rewrites every row into the new layout, one
    file per bucket, and carries the ledger forward; the version before it
    still reads, a reopened handle adopts the new count, and a count
    that ``rebucket`` set above what the state needs is kept."""
    from pyspark.sql import functions as SF

    conf = "spark.sql.files.openCostInBytes"
    old_cost = spark.conf.get(conf)
    schema = "k int, n long"
    d0 = [(i, i) for i in range(2000)]
    d1 = [(i, 1) for i in range(0, 4000, 2)]
    d2 = [(i, 5) for i in range(0, 4000, 7)]
    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"], retain_versions=2)
    pt.merge(spark.createDataFrame(d0, schema), batch_id="d0")
    assert pt.num_buckets == 1
    try:
        # a bucket size a third of the stored state: the next merge grows
        bucket = PointTable._parquet_bytes(pt._current_version() / "data") // 3
        spark.conf.set(conf, str(bucket))
        before = pt._current_version()
        n_old = pt.num_buckets
        pt.merge(spark.createDataFrame(d1, schema), batch_id="d1")
        cur = pt._current_version()
        n_new = json.loads((cur / "meta.json").read_text())["num_buckets"]
        assert pt.versions() == [int(before.name[2:]), int(cur.name[2:])]
        assert int(cur.name[2:]) == int(before.name[2:]) + 1
        # three buckets' worth of state: the next power of two of 1
        assert (n_old, n_new) == (1, 4)

        # every key sits in the dir its hash names under the new count,
        # and each bucket dir holds one file, written by its own task
        # (``part-<task partition>-…``): no two buckets share a task
        stored = spark.read.parquet(str(cur / "data"))
        misplaced = stored.where(
            SF.col("pt_bucket") != SF.pmod(SF.hash("k"), SF.lit(n_new))
        )
        assert misplaced.count() == 0
        files = [list(d.glob("*.parquet")) for d in (cur / "data").glob("pt_bucket=*")]
        assert len(files) == n_new and all(len(f) == 1 for f in files)
        assert len({f[0].name.split("-")[1] for f in files}) == n_new

        assert {r.k: r.n for r in pt.read().collect()} == _fold(d0, d1)
        assert pt.applied_batches() == {"d0", "d1"}
        # the retained pre-growth version still reads
        old = pt.read(version=int(before.name[2:]))
        assert {r.k: r.n for r in old.collect()} == _fold(d0)

        # a rebucket to 4 over tiny state stays 4
        small = PointTable(spark, str(tmp_path / "small"), key=["k"])
        small.merge(spark.createDataFrame([(1, 1), (2, 2)], schema), batch_id="s0")
        small.rebucket(4)
        small.merge(spark.createDataFrame([(1, 1), (3, 3)], schema), batch_id="s1")
        assert small.num_buckets == 4
        meta = json.loads((small._current_version() / "meta.json").read_text())
        assert meta["num_buckets"] == 4
    finally:
        spark.conf.set(conf, old_cost)

    # a reopened handle (default count 1) adopts the grown layout
    reopened = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    reopened.merge(spark.createDataFrame(d2, schema), batch_id="d2")
    assert reopened.num_buckets == n_new
    meta = json.loads((reopened._current_version() / "meta.json").read_text())
    assert meta["num_buckets"] == n_new
    assert {r.k: r.n for r in reopened.read().collect()} == _fold(d0, d1, d2)
    assert reopened.applied_batches() == {"d0", "d1", "d2"}


def _jobs_in_group(spark, group, fn):
    """How many Spark jobs ``fn()`` submits, counted by job group."""
    from cruncher_spark import observe

    with observe.job_group(spark, group):
        fn()
    return observe.group_totals(spark, group)["jobs"]


def test_one_bucket_merge_skips_bucket_discovery(spark, tmp_path):
    """With one bucket every stored bucket is rewritten anyway, so the
    merge does not run the delta's bucket-discovery collect: the same
    merge submits fewer jobs than on a two-bucket table."""
    schema = "k int, n long"
    seed = [(i, 1) for i in range(200)]
    delta = [(i, 2) for i in range(0, 300, 3)]
    jobs = {}
    for n in (1, 2):
        pt = PointTable(spark, str(tmp_path / f"pt{n}"), key=["k"])
        pt.merge(spark.createDataFrame(seed, schema), batch_id="seed")
        if n > 1:
            pt.rebucket(n)
        jobs[n] = _jobs_in_group(
            spark, f"discovery-{n}-{tmp_path.name}",
            lambda: pt.merge(spark.createDataFrame(delta, schema), batch_id="delta"),
        )
        assert {r.k: r.n for r in pt.read().collect()} == _fold(seed, delta)
    assert 0 < jobs[1] < jobs[2], jobs


def test_one_bucket_merge_is_one_job_the_write(spark, tmp_path):
    """A merge into a stored one-bucket table has no bucket to route
    rows to, so it runs no exchange: exactly one Spark job, the write,
    which scans the stored bucket, folds it with the delta and writes.
    The fold and the write share one sort by key: the bucket file's keys
    come out in order even when neither input was."""
    import random

    import pyarrow.parquet as pq

    schema = "k int, n long"
    seed = [(i, 1) for i in range(200)]
    delta = [(i, 2) for i in range(0, 300, 3)]
    random.Random(0).shuffle(seed)
    random.Random(1).shuffle(delta)
    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    pt.merge(spark.createDataFrame(seed, schema), batch_id="seed")
    jobs = _jobs_in_group(
        spark, f"fold-{tmp_path.name}",
        lambda: pt.merge(spark.createDataFrame(delta, schema), batch_id="delta"),
    )
    assert jobs == 1
    files = list((pt._current_version() / "data").rglob("*.parquet"))
    assert len(files) == 1
    keys = pq.read_table(files[0], columns=["k"])["k"].to_pylist()
    assert keys == sorted(_fold(seed, delta))
    assert {r.k: r.n for r in pt.read().collect()} == _fold(seed, delta)


def test_one_bucket_table_gathers_a_many_partition_delta_into_one_file(
    spark, tmp_path
):
    """A fresh one-bucket table fed a delta spread over several
    partitions, then a second such delta, writes one sorted file per
    merge: the gather puts every partition's rows in the one write
    task."""
    import random

    import pyarrow.parquet as pq

    schema = "k int, n long"
    d0 = [(i, 1) for i in range(500)]
    d1 = [(i, 3) for i in range(0, 800, 4)]
    random.Random(2).shuffle(d0)
    random.Random(3).shuffle(d1)
    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    for n, d in enumerate((d0, d1)):
        pt.merge(spark.createDataFrame(d, schema).repartition(4), batch_id=f"d{n}")
        assert pt.num_buckets == 1
        files = list((pt._current_version() / "data").rglob("*.parquet"))
        assert len(files) == 1
        keys = pq.read_table(files[0], columns=["k"])["k"].to_pylist()
        assert keys == sorted(_fold(*(d0, d1)[: n + 1]))
    assert {r.k: r.n for r in pt.read().collect()} == _fold(d0, d1)


def test_two_bucket_merge_routes_each_key_through_its_exchange(spark, tmp_path):
    """With two buckets the merge still discovers the delta's buckets and
    hash-partitions state and delta over them before the write, five
    jobs in all, and each key lands in its ``pmod(hash(key), 2)``
    bucket."""
    import pyarrow.parquet as pq

    schema = "k int, n long"
    seed = [(i, 1) for i in range(200)]
    delta = [(i, 2) for i in range(0, 300, 3)]
    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    pt.merge(spark.createDataFrame(seed, schema), batch_id="seed")
    pt.rebucket(2)
    jobs = _jobs_in_group(
        spark, f"route-{tmp_path.name}",
        lambda: pt.merge(spark.createDataFrame(delta, schema), batch_id="delta"),
    )
    assert jobs == 5
    want = {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in _fold(seed, delta)], "k int")
        .selectExpr("k", "pmod(hash(k), 2) AS b")
        .collect()
    }
    got = {}
    for f in (pt._current_version() / "data").rglob("*.parquet"):
        b = int(f.parent.name.split("=")[1])
        got.update((k, b) for k in pq.read_table(f, columns=["k"])["k"].to_pylist())
    assert got == want
    assert set(want.values()) == {0, 1}
    assert {r.k: r.n for r in pt.read().collect()} == _fold(seed, delta)


def test_merge_keeps_column_order_with_key_last(spark, tmp_path):
    """A rewritten bucket keeps the table's column order when the key is
    not the first column, so it reads back beside the buckets the merge
    hard-linked unchanged."""
    import pyarrow.parquet as pq

    pt = PointTable(spark, str(tmp_path / "pt"), key=["k"])
    pt.merge(spark.createDataFrame([(1, i) for i in range(40)], "n long, k int"))
    pt.rebucket(4)
    pt.merge(spark.createDataFrame([(5, 0)], "n long, k int"), batch_id="one")
    cur = pt._current_version()
    assert pt._recorded_schema(cur).fieldNames() == ["n", "k"]
    for f in (cur / "data").rglob("*.parquet"):
        assert pq.read_schema(f).names == ["n", "k"]
    rows = pt.read()
    assert {r.k: r.n for r in rows.collect()} == {
        i: 6 if i == 0 else 1 for i in range(40)
    }


@pytest.mark.parametrize("buckets", [1, 4])
def test_empty_delta_into_fresh_or_populated_table(spark, tmp_path, buckets):
    """An empty delta into a fresh or a populated table commits its
    ledger id and leaves readable state (the recorded-schema empty frame,
    or the unchanged rows); the next merge folds normally. One bucket
    skips bucket discovery, four run it and find no bucket. A fresh
    table is always one bucket, so only ``[1]`` has a fresh half."""
    schema = "k int, n long"
    empty = spark.createDataFrame([], schema)

    if buckets == 1:
        fresh = PointTable(spark, str(tmp_path / "fresh"), key=["k"])
        assert fresh.merge(empty, batch_id="e0") is True
        assert fresh.applied_batches() == {"e0"}
        got = fresh.read()
        assert got.dtypes == [("k", "int"), ("n", "bigint")]
        assert got.count() == 0
        fresh.merge(spark.createDataFrame([(1, 3), (2, 4)], schema), batch_id="d1")
        assert {r.k: r.n for r in fresh.read().collect()} == {1: 3, 2: 4}
        assert fresh.applied_batches() == {"e0", "d1"}

    full = PointTable(spark, str(tmp_path / "full"), key=["k"])
    full.merge(spark.createDataFrame([(1, 1), (2, 2)], schema), batch_id="d0")
    if buckets > 1:
        full.rebucket(buckets)
    assert full.merge(empty, batch_id="e1") is True
    assert full.applied_batches() == {"d0", "e1"}
    assert {r.k: r.n for r in full.read().collect()} == {1: 1, 2: 2}
    full.merge(spark.createDataFrame([(2, 5), (3, 7)], schema), batch_id="d2")
    assert {r.k: r.n for r in full.read().collect()} == {1: 1, 2: 7, 3: 7}
    assert full.num_buckets == buckets
    assert full.applied_batches() == {"d0", "e1", "d2"}


def _data_inodes(pt):
    return {
        str(f.relative_to(pt._current_version())): f.stat().st_ino
        for f in (pt._current_version() / "data").rglob("*.parquet")
    }


@pytest.mark.parametrize("mode", ["bucketed", "lsm"])
def test_record_batch_keeps_every_stored_file(spark, tmp_path, mode):
    """Recording a batch known to carry no rows commits its ledger id and
    hard-links every stored file forward: no Spark job, no rewrite, and
    the persisted layout wins over the handle's."""
    schema = "k int, n long"
    path = str(tmp_path / "pt")
    pt = PointTable(spark, path, key=["k"], mode=mode)
    pt.merge(spark.createDataFrame([(i, i) for i in range(50)], schema), "d0")
    pt.rebucket(4)
    before = _data_inodes(pt)
    handle = PointTable(spark, path, key=["k"])  # default layout: 1 bucket
    jobs = _jobs_in_group(
        spark, f"record-{mode}-{tmp_path.name}",
        lambda: handle.record_batch("e1"),
    )
    assert jobs == 0
    assert _data_inodes(handle) == before
    assert handle.applied_batches() == {"d0", "e1"}
    assert handle.record_batch("e1") is False
    meta = json.loads((handle._current_version() / "meta.json").read_text())
    assert (meta["num_buckets"], meta["mode"]) == (4, mode)
    assert {r.k: r.n for r in handle.read().collect()} == {i: i for i in range(50)}
    handle.merge(spark.createDataFrame([(1, 5)], schema), "d2")
    assert handle.read().where("k = 1").first().n == 6

    with pytest.raises(FileNotFoundError):
        PointTable(spark, str(tmp_path / "fresh"), key=["k"]).record_batch("e0")


def test_worker_batch_without_ids_rewrites_nothing(spark, crunch_tables, tmp_path):
    """A batch whose every id is poisoned merges nothing into the served
    one-bucket table: the first such batch on a fresh table still records
    the view's schema, and one into populated state keeps every stored
    file (no O(state) rewrite) while the ledger and notify advance."""
    from cruncher_spark.streaming.worker import served_point_table

    poison = "x" * 2000
    worker = CrunchWorker(
        spark,
        crunch_tables,
        lambda tables, batch: crunch_global_delta(tables, batch, now=_now()),
        served_point_table(
            spark, str(tmp_path / "gp"), GLOBAL_POINT_KEY, GLOBAL_POLICIES
        ),
        notify_dir=str(tmp_path / "notify"),
        quarantine_dir=str(tmp_path / "dlq"),
    )
    worker.process_batch(_ids_df(spark, [poison]), 0)
    empty = worker.point.read()
    assert empty.count() == 0 and "played" in empty.columns

    worker.process_batch(_ids_df(spark, _ids(crunch_tables, 20)), 1)
    played = _played(worker.point)
    before = _data_inodes(worker.point)
    worker.process_batch(_ids_df(spark, [poison]), 2)
    assert _data_inodes(worker.point) == before
    assert worker.point.applied_batches() == {"0", "1", "2"}
    assert worker.batches_processed == 3 and worker.batches_failed == 0
    assert len(list((tmp_path / "notify").iterdir())) == 3
    assert _played(worker.point) == played


# ---------------------------------------------------------------------------
# LSM (append + compact) merge mode — r7 VERDICT #1
# ---------------------------------------------------------------------------

_LSM_SCHEMA = (
    "id long, add_d double, add_i long, ansafe double,"
    " lst long, grt long, keep string, ovw string"
)
_LSM_POLICIES = {
    "add_d": MergePolicy.ADD,
    "add_i": MergePolicy.ADD,
    "ansafe": MergePolicy.ADD_NULLSAFE,
    "lst": MergePolicy.LEAST,
    "grt": MergePolicy.GREATEST,
    "keep": MergePolicy.KEEP,
    "ovw": MergePolicy.OVERWRITE,
}


def _lsm_batches():
    """Delta sequence exercising every policy's NULL quirks: NULL-starts,
    mid-sequence NULLs, single-appearance keys (the ADD quantize-
    pass-through case: 7-digit fraction must survive un-rounded)."""
    return [
        [
            (1, 1.5, 10, 1.0, 5, 5, "first", "v1"),
            (2, None, None, None, None, None, None, None),
            (3, 0.1234567, 7, 0.25, 9, 9, "three", "t1"),
        ],
        [
            (1, 2.5, 4, None, 3, 9, "second", None),
            (2, 1.0, 1, 1.0, 1, 1, "late", "l1"),
            (4, -1.25, -2, -0.5, 0, 0, "four", "f1"),
        ],
        [
            (1, 0.5, 1, 2.0, 8, 2, "third", "v3"),
            (2, 1.0, 1, None, None, None, "later", "l2"),
        ],
    ]


def _mk_pair(spark, tmp_path, **lsm_kwargs):
    from cruncher_spark.merge.upsert import PointTable

    b = PointTable(
        spark, str(tmp_path / "bucketed"), key=["id"], policies=_LSM_POLICIES,
    )
    l = PointTable(
        spark, str(tmp_path / "lsm"), key=["id"],
        policies=_LSM_POLICIES, mode="lsm", **lsm_kwargs,
    )
    return b, l


def _rows(pt):
    cols = sorted(pt.read().columns)
    rows = [tuple(r[c] for c in cols) for r in pt.read().collect()]
    return sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


def test_lsm_fold_equals_bucketed_pairwise_all_policies(spark, tmp_path):
    """The LSM read-side policy fold must reproduce the bucketed
    pairwise merge EXACTLY — including MySQL ADD's NULL-propagation,
    KEEP/OVERWRITE's even-when-NULL row pick,
    and ADD's no-quantize pass-through for single-appearance keys."""
    b, l = _mk_pair(spark, tmp_path)
    for i, batch in enumerate(_lsm_batches()):
        df = spark.createDataFrame(batch, _LSM_SCHEMA)
        assert b.merge(df, batch_id=f"b{i}") is True
        assert l.merge(df, batch_id=f"b{i}") is True
        assert _rows(b) == _rows(l), f"diverged after batch {i}"
    # the single-appearance double survived both modes un-rounded
    v3 = {r.id: r.add_d for r in l.read().collect()}
    assert v3[3] == 0.1234567


def test_lsm_fold_on_read_with_live_runs(spark, tmp_path):
    """Force the multi-run fold-on-read path (a big base run followed
    by a small append that the size invariant does NOT fold) and check
    it against bucketed state."""
    b, l = _mk_pair(spark, tmp_path)
    big = [(i, float(i), i, 1.0, i, i, f"k{i}", f"o{i}") for i in range(400)]
    small = [(1, 1.0, 1, 1.0, 0, 99, "later", "new"), (2, None, 1, 1.0, 1, 1, "x", "y")]
    for i, batch in enumerate([big, small]):
        df = spark.createDataFrame(batch, _LSM_SCHEMA)
        b.merge(df, batch_id=f"b{i}")
        l.merge(df, batch_id=f"b{i}")
    runs = l._run_dirs(l._current_version())
    assert len(runs) == 2  # invariant held: no fold of 400-vs-2 rows
    assert _rows(b) == _rows(l)


def _check_run_ladder(spark, tmp_path, batch_rows):
    """Ten LSM appends of ``batch_rows(i)``: after batch i at most
    ``(i + 1).bit_length()`` runs are live, some fold merges the newest
    two runs while an older run stays live, and every row reads back."""
    _, l = _mk_pair(spark, tmp_path)
    folds = []
    fold = l._fold_newest_two
    l._fold_newest_two = lambda cur, runs: (
        folds.append([r.name for r in runs]), fold(cur, runs)
    )
    total = 0
    for i in range(10):
        rows = batch_rows(i)
        total += len(rows)
        l.merge(spark.createDataFrame(rows, _LSM_SCHEMA), batch_id=f"b{i}")
        runs = l._run_dirs(l._current_version())
        assert len(runs) <= (i + 1).bit_length(), f"{len(runs)} runs after batch {i}"
    assert any(len(names) > 2 for names in folds)  # an older run stayed live
    assert l.read().count() == total


def test_lsm_compaction_keeps_run_count_logarithmic(spark, tmp_path):
    """Equal-sized appends cascade like a binary counter: after N
    batches at most log2(N) + 1 runs are live, never N — the
    bounded-read-cost half of the LSM contract."""
    _check_run_ladder(spark, tmp_path, lambda i: [
        (k, k * 0.618034, 7919 * k, 1.0, 31 * k, 17 * k, f"a{k}", "b")
        for k in range(1000 * i, 1000 * i + 300)
    ])


def test_lsm_compaction_compares_runs_by_rows(spark, tmp_path):
    """Small appends of repeated values cascade the same way: runs are
    compared by their rows, not by parquet bytes, whose fixed per-file
    overhead makes a 20-row run about as large as the whole state (every
    append would then refold all of it)."""
    _check_run_ladder(spark, tmp_path, lambda i: [
        (20 * i + k, 1.0, 1, 1.0, 1, 1, "a", "b") for k in range(20)
    ])


def test_lsm_ledger_replay_and_time_travel(spark, tmp_path):
    from cruncher_spark.merge.upsert import PointTable

    l = PointTable(
        spark, str(tmp_path / "lsm"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm", retain_versions=10,
    )
    d1 = spark.createDataFrame([(1, 10), (2, 20)], "id long, n long")
    d2 = spark.createDataFrame([(1, 5), (3, 30)], "id long, n long")
    assert l.merge(d1, batch_id="x1") is True
    v_after_1 = max(l.versions())
    assert l.merge(d2, batch_id="x2") is True
    assert l.merge(d2, batch_id="x2") is False  # replay no-op
    now = {r.id: r.n for r in l.read().collect()}
    assert now == {1: 15, 2: 20, 3: 30}
    then = {r.id: r.n for r in l.read(version=v_after_1).collect()}
    assert then == {1: 10, 2: 20}


def test_lsm_crash_mid_compaction_recovers(spark, tmp_path, monkeypatch):
    """Each fold is its own committed version: a crash inside the
    compaction loop leaves the appended (already-flipped) state fully
    readable and the ledger intact; the next merge finishes the fold."""
    from cruncher_spark.merge.upsert import PointTable

    l = PointTable(
        spark, str(tmp_path / "lsm"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm",
    )
    l.merge(spark.createDataFrame([(1, 1)], "id long, n long"), batch_id="c0")

    def boom(cur, runs):
        raise RuntimeError("crash mid-compaction")

    monkeypatch.setattr(l, "_fold_newest_two", boom)
    with pytest.raises(RuntimeError):
        l.merge(spark.createDataFrame([(2, 2)], "id long, n long"), batch_id="c1")
    # append committed before the crash: data + ledger visible
    assert {r.id: r.n for r in l.read().collect()} == {1: 1, 2: 2}
    assert l.merge(
        spark.createDataFrame([(2, 2)], "id long, n long"), batch_id="c1"
    ) is False  # ledger replay no-op
    monkeypatch.undo()
    l.merge(spark.createDataFrame([(3, 3)], "id long, n long"), batch_id="c2")
    assert {r.id: r.n for r in l.read().collect()} == {1: 1, 2: 2, 3: 3}
    assert len(l._run_dirs(l._current_version())) <= 2


def test_lsm_rebucket_consolidates_then_merge_folds(spark, tmp_path):
    """rebucket on an LSM table rewrites the folded state as one run in
    the new layout with the ledger carried forward; a later merge appends
    onto that run and the size-tiered compaction folds the two, sizing
    the folded run from its bytes again."""
    l = PointTable(
        spark, str(tmp_path / "lsm"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm",
    )
    l.merge(spark.range(400).selectExpr("id", "id AS n"), batch_id="m0")
    l.merge(spark.createDataFrame([(1, 1), (500, 5)], "id long, n long"), batch_id="m1")
    assert [r.name for r in l._run_dirs(l._current_version())] == [
        "run=000000", "run=000001",
    ]
    before = {r.id: r.n for r in l.read().collect()}

    l.rebucket(2)
    runs = l._run_dirs(l._current_version())
    assert [r.name for r in runs] == ["run=000000"]
    assert sorted(d.name for d in runs[0].glob("pt_bucket=*")) == [
        "pt_bucket=0", "pt_bucket=1",
    ]
    assert (l.mode, l.num_buckets) == ("lsm", 2)
    assert {r.id: r.n for r in l.read().collect()} == before
    assert l.applied_batches() == {"m0", "m1"}
    assert l.merge(
        spark.createDataFrame([(1, 1)], "id long, n long"), batch_id="m1"
    ) is False

    # a delta of the same keys and values breaks the size invariant: the
    # appended run is folded into the consolidated one
    l.merge(spark.range(400).selectExpr("id", "id AS n"), batch_id="m2")
    runs = l._run_dirs(l._current_version())
    assert [r.name for r in runs] == ["run=000000"]
    assert [d.name for d in runs[0].glob("pt_bucket=*")] == ["pt_bucket=0"]
    after = {r.id: r.n for r in l.read().collect()}
    assert after == {k: v + (k if k < 400 else 0) for k, v in before.items()}


def test_lsm_persisted_mode_wins(spark, tmp_path):
    """Reopening an LSM table with default (bucketed) constructor args
    must keep appending runs, not corrupt the layout — the persisted
    mode wins exactly like its bucket count."""
    from cruncher_spark.merge.upsert import PointTable

    l = PointTable(
        spark, str(tmp_path / "t"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm",
    )
    l.merge(spark.createDataFrame([(1, 1)], "id long, n long"), batch_id="a")
    re = PointTable(
        spark, str(tmp_path / "t"), key=["id"],
        policies={"n": MergePolicy.ADD},
    )  # default bucketed args
    re.merge(spark.createDataFrame([(1, 2), (2, 5)], "id long, n long"), batch_id="b")
    assert re.mode == "lsm"
    assert {r.id: r.n for r in re.read().collect()} == {1: 3, 2: 5}


def test_lsm_empty_delta_ledger_only(spark, tmp_path):
    """An empty delta (ingest batch with zero survivors) must commit
    its batch_id to the ledger WITHOUT leaving a parquet-less run dir
    (0-byte runs never trigger the fold invariant and would pile up)."""
    from cruncher_spark.merge.upsert import PointTable

    l = PointTable(
        spark, str(tmp_path / "lsm"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm",
    )
    empty = spark.createDataFrame([], "id long, n long")
    assert l.merge(empty, batch_id="e0") is True
    assert l.merge(empty, batch_id="e0") is False  # ledger recorded
    assert l._run_dirs(l._current_version()) == []
    assert l.read().count() == 0  # schema-backed empty read
    l.merge(spark.createDataFrame([(1, 1)], "id long, n long"), batch_id="d1")
    assert l.merge(empty, batch_id="e1") is True
    assert len(l._run_dirs(l._current_version())) == 1
    assert {r.id: r.n for r in l.read().collect()} == {1: 1}


def test_lsm_append_of_a_batch_is_one_file(spark, tmp_path):
    """An LSM append is one bucket whatever the delta's size or
    partitioning: each batch-sized run of a many-partition delta is one
    key-sorted file, written by one Spark job with no exchange."""
    import pyarrow.parquet as pq

    schema = "k long, n long"
    d0 = [(i, 1) for i in range(0, 9000, 3)]
    d1 = [(i, 2) for i in range(0, 200, 2)]
    pt = PointTable(spark, str(tmp_path / "lsm"), key=["k"], mode="lsm")
    df0, df1 = (spark.createDataFrame(d, schema) for d in (d0, d1))
    assert df0.rdd.getNumPartitions() > 1 and df1.rdd.getNumPartitions() > 1
    pt.merge(df0, batch_id="d0")
    # d1 is under half of d0's bytes: appended, not folded
    jobs = _jobs_in_group(
        spark, f"append-{tmp_path.name}", lambda: pt.merge(df1, batch_id="d1")
    )
    runs = pt._run_dirs(pt._current_version())
    assert [r.name for r in runs] == ["run=000000", "run=000001"]
    for run, d in zip(runs, (d0, d1)):
        files = list(run.rglob("*.parquet"))
        assert [f.parent.name for f in files] == ["pt_bucket=0"]
        assert pq.read_table(files[0], columns=["k"])["k"].to_pylist() == sorted(
            k for k, _ in d
        )
    assert jobs == 1
    assert pt.num_buckets == 1
    assert {r.k: r.n for r in pt.read().collect()} == _fold(d0, d1)


def test_lsm_fold_sizes_its_run_from_the_bytes_it_folds(spark, tmp_path):
    """A compaction fold sizes its run like a bucketed table's growth,
    from the parquet bytes of the two runs it folds: with
    ``spark.sql.files.openCostInBytes`` at a third of those bytes the
    folded run has four buckets, one file each, every key in its
    ``pmod(hash(key), 4)`` bucket, and reads back as the fold of the
    deltas."""
    from pyspark.sql import functions as SF

    conf = "spark.sql.files.openCostInBytes"
    old_cost = spark.conf.get(conf)
    schema = "k long, n long"
    d0 = [(i, 1) for i in range(3000)]
    d1 = [(i, 2) for i in range(1500, 4500)]
    pt = PointTable(
        spark, str(tmp_path / "lsm"), key=["k"], mode="lsm", retain_versions=3
    )
    pt.merge(spark.createDataFrame(d0, schema), batch_id="d0")
    run0_bytes = PointTable._parquet_bytes(pt._current_version() / "data")
    try:
        # two runs of about run0's bytes over a third of their sum
        spark.conf.set(conf, str(2 * run0_bytes // 3))
        pt.merge(spark.createDataFrame(d1, schema), batch_id="d1")
        appended, folded = pt.versions()[-2:]
        both = PointTable._parquet_bytes(pt.path / f"v_{appended:06d}" / "data")
        assert pt._buckets_for(both) == 4
    finally:
        spark.conf.set(conf, old_cost)
    runs = pt._run_dirs(pt.path / f"v_{folded:06d}")
    assert [r.name for r in runs] == ["run=000000"]
    files = [list(d.glob("*.parquet")) for d in runs[0].glob("pt_bucket=*")]
    assert len(files) == 4 and all(len(f) == 1 for f in files)
    stored = spark.read.parquet(str(runs[0]))
    misplaced = stored.where(SF.col("pt_bucket") != SF.pmod(SF.hash("k"), SF.lit(4)))
    assert misplaced.count() == 0
    assert (pt.num_buckets, pt._meta(runs[0].parent.parent)["num_buckets"]) == (4, 4)
    assert {r.k: r.n for r in pt.read().collect()} == _fold(d0, d1)


def test_lsm_refuses_a_max_column(spark, tmp_path):
    """MySQL MAX keeps the old value beside a NULL, so it is not
    associative: a compaction folding a key's (NULL, 99) in two newer
    runs would store NULL, and the read would keep an older run's 10
    where the bucketed merge answers 99. So an LSM table takes no MAX
    column: the constructor refuses one, and a MAX handle on a table
    stored in LSM mode refuses to write before it commits anything, and
    to fold its runs on a read."""
    s = "id long, mx long"
    mx = {"mx": MergePolicy.MAX}
    with pytest.raises(ValueError, match="MAX"):
        PointTable(spark, str(tmp_path / "a"), key=["id"], policies=mx, mode="lsm")
    stored = PointTable(spark, str(tmp_path / "lsm"), key=["id"], mode="lsm")
    stored.LSM_FOLD_FACTOR = 0.0  # never compacts: two live runs
    for i in range(2):
        stored.merge(spark.createDataFrame([(i, 10)], s), batch_id=f"b{i}")
    pt = PointTable(spark, str(tmp_path / "lsm"), key=["id"], policies=mx)
    with pytest.raises(ValueError, match="MAX"):
        pt.merge(spark.createDataFrame([(1, 99)], s), batch_id="b2")
    with pytest.raises(ValueError, match="MAX"):
        pt.read()
    assert stored.versions() == [2] and stored.applied_batches() == {"b0", "b1"}
    assert {r.id: r.mx for r in stored.read().collect()} == {0: 10, 1: 10}


def test_lsm_exhaustive_policy_matrix(spark, tmp_path):
    """EXHAUSTIVE pairwise-vs-fold equivalence: every combination of
    (presence pattern over 3 batches) x (per-batch NULL pattern) rides
    as its own KEY through one bucketed and one LSM table, for the six
    policies an LSM table takes, at once — 7 non-empty presence patterns x 8 null
    masks = 56 keys covering every ordering a 3-batch history can
    produce (NULL-start, NULL-middle, NULL-end, single-appearance,
    gaps). One run, every case."""
    from cruncher_spark.merge.upsert import PointTable

    POLICIES = _LSM_POLICIES
    cols = list(POLICIES)
    keys = []
    for present in range(1, 8):  # bit b set -> key appears in batch b
        for nulls in range(8):  # bit b set -> values NULL in batch b
            keys.append((present, nulls))

    def batch_rows(b):
        rows = []
        for present, nulls in keys:
            if not (present >> b) & 1:
                continue
            kid = present * 10 + nulls
            if (nulls >> b) & 1:
                vals = {c: None for c in cols}
            else:
                vals = {
                    c: float(kid + 100 * (b + 1)) + i * 0.25
                    for i, c in enumerate(cols)
                    if c in ("add_d", "ansafe")
                }
                vals.update(
                    {
                        c: kid + 100 * (b + 1) + i
                        for i, c in enumerate(cols)
                        if c in ("add_i", "lst", "grt")
                    }
                )
                vals["keep"] = f"k{kid}b{b}"
                vals["ovw"] = f"o{kid}b{b}"
            rows.append(
                (kid, vals["add_d"], vals["add_i"], vals["ansafe"],
                 vals["lst"], vals["grt"], vals["keep"], vals["ovw"])
            )
        return rows

    b, l = _mk_pair(spark, tmp_path)
    for bi in range(3):
        df = spark.createDataFrame(batch_rows(bi), _LSM_SCHEMA)
        b.merge(df, batch_id=f"m{bi}")
        l.merge(df, batch_id=f"m{bi}")
    rb, rl = _rows(b), _rows(l)
    assert len(rb) == len(keys)
    assert rb == rl


_ORACLE_POLICIES = {
    **_LSM_POLICIES,
    "mx": MergePolicy.MAX,
    "add_z": MergePolicy.ADD,
    "ansafe_z": MergePolicy.ADD_NULLSAFE,
}
_ORACLE_SCHEMA = _LSM_SCHEMA + ", mx long, add_z double, ansafe_z double"
_ORACLE_DDL = (
    "id BIGINT, add_d DOUBLE, add_i BIGINT, ansafe DOUBLE, lst BIGINT,"
    " grt BIGINT, keep VARCHAR, ovw VARCHAR, mx BIGINT, add_z DOUBLE,"
    " ansafe_z DOUBLE"
)


def _oracle_batches():
    """The policy matrix's three batches: key ``present*10 + nulls`` is in
    batch b iff bit b of ``present`` is set, with every measure NULL iff
    bit b of ``nulls`` is — 7 presence patterns x 8 NULL masks = 56 keys.
    ``add_d`` carries a 7th fractional digit (kept by a lone value, cut
    by the DECIMAL(28,6) add) and ``add_z``/``ansafe_z`` are ``-0.0``
    whenever non-NULL."""
    batches = [[], [], []]
    for present in range(1, 8):
        for nulls in range(8):
            kid = present * 10 + nulls
            for b in range(3):
                if not (present >> b) & 1:
                    continue
                if (nulls >> b) & 1:
                    batches[b].append((kid,) + (None,) * 10)
                    continue
                v = kid + 100 * (b + 1)
                batches[b].append(
                    (kid, v + 0.1234567, v + 1, v + 2.25, v + 4, v + 5,
                     f"k{kid}b{b}", f"o{kid}b{b}", v + 3, -0.0, -0.0)
                )
    return batches


def test_policy_matrix_matches_duckdb_select_oracle(spark, tmp_path):
    """The bucketed merge and the LSM compaction fold pairwise
    (``_fold_pairs``), a many-run LSM read through policy aggregates
    (``_fold_runs``). Besides checking the two against each other, this
    checks each against an independent oracle: DuckDB running the
    full-outer-join SELECT of ``merge_as_select_sql``, batch by batch,
    over the 56-key x 7-policy matrix; the LSM tables, which take no
    MAX column, get every column but ``mx``. Doubles compare by
    ``repr``: every digit, and the sign of a zero. After the first batch
    each table is rebucketed to four buckets, so the LSM tables fold and
    read a four-bucket run beside one-bucket appends."""
    import duckdb

    from cruncher_spark.merge.merge_into import merge_as_select_sql

    cols = list(_ORACLE_POLICIES)
    dtypes = {c: "double" for c in ("add_d", "ansafe", "add_z", "ansafe_z")}
    sel = merge_as_select_sql(
        "state", "delta", ["id"], cols, _ORACLE_POLICIES, dtypes
    )
    con = duckdb.connect()
    for name in ("state", "delta"):
        con.execute(f"CREATE TABLE {name} ({_ORACLE_DDL})")
    lsm_policies = {c: p for c, p in _ORACLE_POLICIES.items() if c != "mx"}
    tables = {
        name: PointTable(
            spark, str(tmp_path / name), key=["id"], mode=mode,
            policies=_ORACLE_POLICIES if mode == "bucketed" else lsm_policies,
        )
        for name, mode in (
            ("bucketed", "bucketed"), ("lsm", "lsm"), ("lsm-unfolded", "lsm")
        )
    }
    # never compacts: its reads fold every run, not just two
    tables["lsm-unfolded"].LSM_FOLD_FACTOR = 0.0

    def exact(rows):
        return sorted(
            (tuple(repr(x) if isinstance(x, float) else x for x in r) for r in rows),
            key=lambda r: r[0],
        )

    for b, rows in enumerate(_oracle_batches()):
        con.execute("DELETE FROM delta")
        con.executemany(f"INSERT INTO delta VALUES ({', '.join('?' * 11)})", rows)
        con.execute(f"CREATE TABLE merged AS {sel}")
        con.execute("DROP TABLE state; ALTER TABLE merged RENAME TO state")
        want = exact(con.execute(f"SELECT id, {', '.join(cols)} FROM state").fetchall())
        df = spark.createDataFrame(rows, _ORACLE_SCHEMA)
        for name, pt in tables.items():
            tcols = [c for c in cols if c in pt.policies]
            pt.merge(df.select("id", *tcols), batch_id=f"m{b}")
            if b == 0:
                pt.rebucket(4)
            got = exact(
                tuple(r) for r in pt.read().select("id", *tcols).collect()
            )
            idx = [0] + [1 + cols.index(c) for c in tcols]
            assert got == [tuple(r[i] for i in idx) for r in want], (
                f"{name} diverged from DuckDB after batch {b}"
            )
    unfolded = tables["lsm-unfolded"]
    assert len(unfolded._run_dirs(unfolded._current_version())) == 3
    # the edge cases really occurred: a lone 7-digit double and a lone
    # -0.0 passed through, and a -0.0 ADD of two values came out 0.0
    final = {r[0]: r for r in want}
    assert final[10][1] == repr(110 + 0.1234567)
    assert (final[10][9], final[10][10]) == ("-0.0", "-0.0")
    assert (final[30][9], final[30][10]) == ("0.0", "-0.0")


def _layout(pt):
    """The CURRENT version of ``pt`` as stored: version dir name, every
    sub-dir with its parquet file count, meta.json, and the ledger."""
    import pyarrow.parquet as pq

    name = (pt.path / "CURRENT").read_text().strip()
    vdir = pt.path / name
    tree = {
        str(d.relative_to(vdir)): len(list(d.glob("*.parquet")))
        for d in sorted(vdir.rglob("*"))
        if d.is_dir()
    }
    meta = json.loads((vdir / "meta.json").read_text())
    ledger = pq.read_table(vdir / "ledger" / "ledger.parquet")
    return name, tree, meta, ledger["batch_id"].to_pylist()


def _meta(num_buckets, mode, nullable):
    n = "true" if nullable else "false"
    schema = (
        '{"fields":['
        f'{{"metadata":{{}},"name":"id","nullable":{n},"type":"long"}},'
        f'{{"metadata":{{}},"name":"n","nullable":{n},"type":"long"}}'
        '],"type":"struct"}'
    )
    return {"num_buckets": num_buckets, "key": ["id"], "schema": schema, "mode": mode}


def test_on_disk_layout_is_pinned(spark, tmp_path):
    """Every writer's on-disk output, literally: bucketed merge into a
    fresh and a stored table, and rebucket; LSM append, size-tiered fold
    and rebucket. A state dir written by one build of this module must
    be readable and resumable by the next, so the version names, dir
    tree, meta.json (including which schema and bucket count each
    writer records) and ledger may not drift."""
    s = "id long, n long"

    b = PointTable(
        spark, str(tmp_path / "b"), key=["id"], policies={"n": MergePolicy.ADD},
    )
    b.merge(spark.range(1, 5).selectExpr("id", "id AS n"), batch_id="m1")
    assert _layout(b) == (
        "v_000001",
        {"data": 0, "data/pt_bucket=0": 1, "ledger": 1},
        _meta(1, "bucketed", nullable=False),
        ["m1"],
    )
    # rebucket records the schema its read of the files gives: nullable
    b.rebucket(4)
    assert _layout(b) == (
        "v_000002",
        {"data": 0, "data/pt_bucket=0": 1, "data/pt_bucket=1": 1,
         "data/pt_bucket=3": 1, "ledger": 1},
        _meta(4, "bucketed", nullable=True),
        ["m1"],
    )
    b.merge(spark.createDataFrame([(1, 10), (9, 9)], s), batch_id="m2")
    assert _layout(b) == (
        "v_000003",
        {"data": 0, "data/pt_bucket=0": 1, "data/pt_bucket=1": 1,
         "data/pt_bucket=3": 1, "ledger": 1},
        _meta(4, "bucketed", nullable=True),
        ["m1", "m2"],
    )
    b.rebucket(2)
    assert _layout(b) == (
        "v_000004",
        {"data": 0, "data/pt_bucket=0": 1, "data/pt_bucket=1": 1, "ledger": 1},
        _meta(2, "bucketed", nullable=True),
        ["m1", "m2"],
    )

    l = PointTable(
        spark, str(tmp_path / "l"), key=["id"],
        policies={"n": MergePolicy.ADD}, mode="lsm",
    )
    run0 = {"data/run=000000": 0, "data/run=000000/pt_bucket=0": 1}
    # an append is one bucket whatever its size
    l.merge(spark.range(400).selectExpr("id", "id AS n"), batch_id="a1")
    assert _layout(l) == (
        "v_000001",
        {"data": 0, **run0, "ledger": 1},
        _meta(1, "lsm", nullable=False),
        ["a1"],
    )
    # 400 rows vs 2: the size invariant holds, no fold
    l.merge(spark.createDataFrame([(1, 1), (500, 5)], s), batch_id="a2")
    assert _layout(l) == (
        "v_000002",
        {"data": 0, **run0, "data/run=000001": 0,
         "data/run=000001/pt_bucket=0": 1, "ledger": 1},
        _meta(1, "lsm", nullable=True),
        ["a1", "a2"],
    )
    # two equal small runs: v_000003 appends, v_000004 folds them into
    # the older seq, sized to one bucket by their bytes, and carries
    # v_000003's recorded schema forward
    l.merge(spark.range(501, 503).selectExpr("id", "id AS n"), batch_id="a3")
    assert _layout(l) == (
        "v_000004",
        {"data": 0, **run0, "data/run=000001": 0,
         "data/run=000001/pt_bucket=0": 1, "ledger": 1},
        _meta(1, "lsm", nullable=False),
        ["a1", "a2", "a3"],
    )
    # rebucket: the folded state rewritten as one run in the new layout,
    # ledger carried forward unchanged
    l.rebucket(2)
    run0_2 = {"data/run=000000": 0, "data/run=000000/pt_bucket=0": 1,
              "data/run=000000/pt_bucket=1": 1}
    assert _layout(l) == (
        "v_000005",
        {"data": 0, **run0_2, "ledger": 1},
        _meta(2, "lsm", nullable=True),
        ["a1", "a2", "a3"],
    )
    # the next append is one bucket beside the two-bucket run, and
    # meta.json records the newest write's count
    l.merge(spark.createDataFrame([(2, 2)], s), batch_id="a4")
    assert _layout(l) == (
        "v_000006",
        {"data": 0, **run0_2, "data/run=000001": 0,
         "data/run=000001/pt_bucket=0": 1, "ledger": 1},
        _meta(1, "lsm", nullable=True),
        ["a1", "a2", "a3", "a4"],
    )


def _state(pt):
    return {r.k: (r.n, r.tag) for r in pt.read().collect()}


def test_time_travel_retention(spark, tmp_path):
    """retain_versions keeps historical versions readable (hard-linked, so
    shared bucket files cost no extra storage) and GCs past the window."""
    pt = PointTable(
        spark, str(tmp_path / "tt"), key=["k"],
        policies={"n": MergePolicy.ADD, "tag": MergePolicy.OVERWRITE},
        retain_versions=2,
    )
    pt.merge(spark.createDataFrame([(1, 10, "a")], "k long, n long, tag string"))
    pt.merge(spark.createDataFrame([(1, 5, "a")], "k long, n long, tag string"))
    pt.merge(spark.createDataFrame([(2, 7, "b")], "k long, n long, tag string"))

    assert pt.versions() == [2, 3]  # v1 GC'd past the 2-version window
    assert _state(pt) == {1: (15, "a"), 2: (7, "b")}
    # time travel: version 2 predates key 2's arrival
    old = {r.k: (r.n, r.tag) for r in pt.read(version=2).collect()}
    assert old == {1: (15, "a")}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        pt.read(version=1)
