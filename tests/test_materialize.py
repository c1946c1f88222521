"""Incremental materialized views: maintained state == full recompute.

The load-bearing claim is the derivation of merge rules from the
aggregate algebra — so the core test drives random batches (with NULLs
and all-NULL group slices) through refresh() and compares against a
one-shot aggregate over the union of all batches, for every supported
aggregate at once.
"""

from __future__ import annotations

import math
import random

import pytest
import pyspark.sql.functions as F

from cruncher_spark.merge.materialize import IncrementalView, Measure
from cruncher_spark.merge.upsert import MergePolicy


MEASURES = {
    "n": Measure("count", "v"),
    "total": Measure("sum", "v"),
    "lo": Measure("min", "v"),
    "hi": Measure("max", "v"),
    "mean": Measure("avg", "v"),
}


def _batches(spark, seed=11, n_batches=4, rows_per=60):
    rng = random.Random(seed)
    out = []
    for b in range(n_batches):
        rows = []
        for i in range(rows_per):
            k = rng.randrange(8)
            # group 7 is all-NULL in early batches: the LEAST/GREATEST
            # null-awareness case (a NULL partial must not shadow a real
            # extreme that arrives later)
            v = (
                None
                if (k == 7 and b < 2) or rng.random() < 0.15
                else rng.randrange(-50, 50)
            )
            rows.append((k, v))
        out.append(spark.createDataFrame(rows, "k int, v int"))
    return out


def test_maintained_equals_recompute(spark, tmp_path):
    batches = _batches(spark)
    view = IncrementalView(spark, str(tmp_path / "mv"), keys=["k"], measures=MEASURES)
    for i, b in enumerate(batches):
        assert view.refresh(b, batch_id=f"b{i}") is True
        if i == 0:  # the later refreshes fold into four buckets
            view.point.rebucket(4)

    union = batches[0]
    for b in batches[1:]:
        union = union.unionAll(b)
    expected = union.groupBy("k").agg(
        F.count("v").alias("n"),
        F.sum("v").alias("total"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.avg("v").alias("mean"),
    )
    got = {r.k: r.asDict() for r in view.read().collect()}
    want = {r.k: r.asDict() for r in expected.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("n", "total", "lo", "hi"):
            assert got[k][c] == want[k][c], (k, c, got[k][c], want[k][c])
        gm, wm = got[k]["mean"], want[k]["mean"]
        if wm is None:
            assert gm is None, k
        else:
            assert math.isclose(gm, wm, rel_tol=1e-12), (k, gm, wm)


def test_refresh_replay_is_idempotent(spark, tmp_path):
    batches = _batches(spark, n_batches=2)
    view = IncrementalView(spark, str(tmp_path / "mv"), keys=["k"], measures=MEASURES)
    view.refresh(batches[0], batch_id="b0")
    before = sorted(map(tuple, view.read().collect()))
    assert view.refresh(batches[0], batch_id="b0") is False  # redelivery
    assert sorted(map(tuple, view.read().collect())) == before


def test_new_view_is_one_bucket_and_refreshes_without_discovery(spark, tmp_path):
    """A new view's table starts at one bucket, like every point table:
    its second refresh folds the batch into the stored bucket without
    first collecting which buckets the batch touches, so it runs fewer
    jobs than the same refresh of a view rebucketed to two."""
    from cruncher_spark import observe

    batches = _batches(spark, seed=5, n_batches=2)
    jobs = {}
    for n in (1, 2):
        view = IncrementalView(
            spark, str(tmp_path / f"mv{n}"), keys=["k"], measures=MEASURES
        )
        view.refresh(batches[0], batch_id="b0")
        assert view.point.num_buckets == 1
        if n > 1:
            view.point.rebucket(n)
        group = f"refresh-{n}-{tmp_path.name}"
        with observe.job_group(spark, group):
            view.refresh(batches[1], batch_id="b1")
        jobs[n] = observe.group_totals(spark, group)["jobs"]
        assert view.point.num_buckets == n
    assert 0 < jobs[1] < jobs[2], jobs


def test_holistic_aggregate_rejected():
    with pytest.raises(ValueError, match="not self-maintainable"):
        Measure("median", "v")


def test_null_partial_never_shadows_extreme(spark, tmp_path):
    view = IncrementalView(
        spark, str(tmp_path / "mv"), keys=["k"],
        measures={"lo": Measure("min", "v"), "hi": Measure("max", "v")},
    )
    view.refresh(
        spark.createDataFrame([(1, None)], "k int, v int"), batch_id="a"
    )
    view.refresh(
        spark.createDataFrame([(1, 5)], "k int, v int"), batch_id="b"
    )
    view.refresh(
        spark.createDataFrame([(1, None)], "k int, v int"), batch_id="c"
    )
    row = view.read().collect()[0]
    assert (row.lo, row.hi) == (5, 5)


def test_merge_into_renders_null_aware_extremes():
    from cruncher_spark.merge.merge_into import _matched_expr

    assert _matched_expr("lo", MergePolicy.LEAST, "int") == (
        "COALESCE(LEAST(s.lo, t.lo), s.lo, t.lo)"
    )
    assert _matched_expr("hi", MergePolicy.GREATEST, "int") == (
        "COALESCE(GREATEST(s.hi, t.hi), s.hi, t.hi)"
    )


def test_streaming_continuous_aggregate(spark, tmp_path):
    """Hourly-bucket continuous aggregate from a file stream — including
    a LATE row that lands in an already-materialized bucket — equals the
    batch recompute."""
    import json

    from cruncher_spark.merge.materialize import start_stream_refresh

    rows = [
        ("2024-01-01 10:05:00", "a", 10),
        ("2024-01-01 10:45:00", "a", 20),
        ("2024-01-01 11:10:00", "b", 5),
    ]
    late = [("2024-01-01 10:59:00", "a", 7)]  # arrives after bucket 10 built
    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.json").write_text(
        "\n".join(json.dumps({"ts": t, "d": d, "v": v}) for t, d, v in rows)
    )

    stream = (
        spark.readStream.schema("ts string, d string, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("bucket"),
            "d",
            "v",
        )
    )
    view = IncrementalView(
        spark, str(tmp_path / "cagg"), keys=["bucket", "d"],
        measures={"n": Measure("count", "v"), "total": Measure("sum", "v")},
    )
    q = start_stream_refresh(
        view, stream, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    (src / "f1.json").write_text(
        "\n".join(json.dumps({"ts": t, "d": d, "v": v}) for t, d, v in late)
    )
    q2 = start_stream_refresh(
        view, stream, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(300)

    got = {
        (str(r.bucket), r.d): (r.n, r.total) for r in view.read().collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "a"): (3, 37),  # late row folded in
        ("2024-01-01 11:00:00", "b"): (1, 5),
    }


def test_retract_equals_recompute_of_remainder(spark, tmp_path):
    """Ingest two batches, retract the first — view equals a recompute
    over only the second batch (invertible aggregates)."""
    measures = {
        "n": Measure("count", "v"),
        "total": Measure("sum", "v"),
        "mean": Measure("avg", "v"),
    }
    batches = _batches(spark, seed=23, n_batches=2)
    view = IncrementalView(spark, str(tmp_path / "mv"), keys=["k"], measures=measures)
    view.refresh(batches[0], batch_id="b0")
    view.refresh(batches[1], batch_id="b1")
    view.retract(batches[0], batch_id="r0")

    expected = batches[1].groupBy("k").agg(
        F.count("v").alias("n"),
        F.sum("v").alias("total"),
        F.avg("v").alias("mean"),
    )
    got = {r.k: r.asDict() for r in view.read().where("n > 0").collect()}
    want = {r.k: r.asDict() for r in expected.where("n > 0").collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert got[k]["total"] == want[k]["total"]
        gm, wm = got[k]["mean"], want[k]["mean"]
        assert (gm is None) == (wm is None)
        if wm is not None:
            assert math.isclose(gm, wm, rel_tol=1e-12), (k, gm, wm)


def test_retract_refuses_non_invertible_extremes(spark, tmp_path):
    view = IncrementalView(
        spark, str(tmp_path / "mv"), keys=["k"],
        measures={"lo": Measure("min", "v")},
    )
    df = spark.createDataFrame([(1, 2)], "k int, v int")
    view.refresh(df, batch_id="a")
    with pytest.raises(ValueError, match="not invertible"):
        view.retract(df, batch_id="r")


def test_double_sum_survives_sub_microscale_values(spark, tmp_path):
    """Double partials must NOT round through decimal(28,6): a view over
    1e-9-scale doubles has to accumulate like SQL SUM over DOUBLE."""
    view = IncrementalView(
        spark, str(tmp_path / "mv"), keys=["k"],
        measures={"total": Measure("sum", "v")},
    )
    for i in range(3):
        view.refresh(
            spark.createDataFrame([(1, 1e-9), (1, 2e-9)], "k int, v double"),
            batch_id=f"b{i}",
        )
    got = view.read().collect()[0].total
    assert math.isclose(got, 9e-9, rel_tol=1e-12), got


def test_decimal_sum_schema_stable_across_partial_merges(spark, tmp_path):
    """DECIMAL measures must not widen precision per merge (Spark's
    decimal '+' adds a digit of precision each fold). Untouched buckets
    are hard-linked at the old schema, so any drift leaves one version
    holding mixed parquet decimal types and the next read crashes with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Regression: refresh all keys,
    then ONE key (subset of buckets), then read + refresh again."""
    from decimal import Decimal

    view = IncrementalView(
        spark, str(tmp_path / "mv"), keys=["k"],
        measures={"total": Measure("sum", "dv")},
    )
    full = spark.createDataFrame(
        [(k, Decimal(f"{k}.25")) for k in range(8)],
        "k int, dv decimal(18,6)",
    )
    one = spark.createDataFrame(
        [(3, Decimal("1.5"))], "k int, dv decimal(18,6)"
    )
    view.refresh(full, batch_id="b0")
    view.point.rebucket(4)
    dtype0 = dict(view.point.read().dtypes)["total"]
    view.refresh(one, batch_id="b1")   # touches a single bucket
    # pre-fix this read (mixed bucket schemas) or the next merge crashed
    assert dict(view.point.read().dtypes)["total"] == dtype0
    view.refresh(one, batch_id="b2")
    got = {r.k: r.total for r in view.read().collect()}
    assert got[3] == Decimal("6.25")
    assert got[0] == Decimal("0.25")
    assert dict(view.point.read().dtypes)["total"] == dtype0


def test_recreated_checkpoint_gets_fresh_ledger_scope(spark, tmp_path):
    """Deleting a checkpoint (the explicit reprocess-from-scratch
    gesture) while keeping the view must RE-APPLY the reprocessed
    batches: stream identity lives in a marker inside the checkpoint
    dir, so the recreated stream's restarted epochs get a fresh ledger
    scope. A path-derived id reused the old scope and silently dropped
    them (ADVICE-class bug found in round-5 self-review)."""
    import json
    import shutil

    from cruncher_spark.merge.materialize import start_stream_refresh

    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.json").write_text(json.dumps({"k": 1, "v": 10}))
    view = IncrementalView(
        spark, str(tmp_path / "mv"), keys=["k"],
        measures={"total": Measure("sum", "v")},
    )

    def run():
        stream = spark.readStream.schema("k int, v long").json(str(src))
        q = start_stream_refresh(
            view, stream, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(300)

    run()
    assert view.read().collect()[0].total == 10
    run()  # same checkpoint: epoch replay is a no-op (ledger)
    assert view.read().collect()[0].total == 10
    shutil.rmtree(tmp_path / "ckpt")
    run()  # recreated checkpoint: fresh scope -> reprocess APPLIES
    assert view.read().collect()[0].total == 20
