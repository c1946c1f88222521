"""Trained logistic-regression classifier: learning signal + the
decimal-sum determinism the oracle relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cruncher_spark.operators.classifier import (
    hashed_doc_features,
    score_logreg,
    train_logreg,
)


@pytest.fixture(scope="module")
def labeled_docs(spark):
    rows = []
    for i in range(100):
        rows.append((i, "crisp clear prose reads well and flows nicely", 1))
        rows.append(
            (100 + i, "zz qq buy now click spam spam free free offer", 0)
        )
    return spark.createDataFrame(rows, "doc_id long, text string, y long")


def test_training_separates_classes(labeled_docs):
    feats = hashed_doc_features(labeled_docs, dim=64)
    w = train_logreg(feats, labeled_docs.select("doc_id", "y"), dim=64, iters=5)
    scored = score_logreg(feats, w).join(
        labeled_docs.select("doc_id", "y"), "doc_id"
    )
    rows = scored.collect()
    pos = [r.score for r in rows if r.y == 1]
    neg = [r.score for r in rows if r.y == 0]
    assert min(pos) > max(neg)  # perfectly separable vocabularies
    acc = sum((r.score >= 0.5) == (r.y == 1) for r in rows) / len(rows)
    assert acc == 1.0


def test_training_is_partitioning_invariant(labeled_docs):
    labels = labeled_docs.select("doc_id", "y")

    def weights(df):
        f = hashed_doc_features(df, dim=64)
        return {
            r.bucket: r.w
            for r in train_logreg(f, labels, dim=64, iters=3).collect()
        }

    a = weights(labeled_docs.repartition(13))
    b = weights(labeled_docs.coalesce(1))
    assert a == b  # bit-exact: decimal sums are order-independent


def test_scores_are_probabilities(labeled_docs):
    feats = hashed_doc_features(labeled_docs, dim=64)
    w = train_logreg(feats, labeled_docs.select("doc_id", "y"), dim=64, iters=2)
    s = score_logreg(feats, w).agg(
        F.min("score").alias("lo"), F.max("score").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert 0.0 <= s.lo <= s.hi <= 1.0
    assert s.n == labeled_docs.count()


def test_lazy_form_equals_checkpointed(labeled_docs):
    labels = labeled_docs.select("doc_id", "y")
    feats = hashed_doc_features(labeled_docs, dim=64)
    eager = {
        r.bucket: r.w for r in train_logreg(feats, labels, dim=64, iters=3).collect()
    }
    lazy = {
        r.bucket: r.w
        for r in train_logreg(
            feats, labels, dim=64, iters=3, checkpoint=False
        ).collect()
    }
    assert eager == lazy


def test_round14_matches_spark_round(spark):
    """_round14 must replicate Spark's round(double, 14) bit-for-bit —
    the driver-side weight update (optimization r13) depends on it.
    Battery includes exact ties at the 15th decimal (HALF_UP vs
    HALF_EVEN discriminators), negatives, and random doubles."""
    import random
    import struct

    from cruncher_spark.operators.classifier import _round14

    vals = [
        2.5e-14, -2.5e-14, 7.5e-14, -7.5e-14, 1.5e-14, -1.5e-14,
        5e-15, -5e-15, 0.0, -0.0, -1e-16, -4e-15, 0.1 + 0.2, 1 / 3, -1 / 3,
        0.999999999999995, -0.999999999999995, 1.000000000000005,
        123.456789012345678, 2 ** -50, 1.0000000000000049e-1,
    ]
    rng = random.Random(7)
    vals += [rng.uniform(-2, 2) for _ in range(500)]
    vals += [
        struct.unpack("d", struct.pack("Q", rng.getrandbits(62)))[0]
        for _ in range(300)
    ]
    vals = [v for v in vals if v == v and abs(v) != float("inf")]
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("x", 14).alias("r")).collect()
    }
    for i, v in enumerate(vals):
        # bits, not ==: -0.0 == 0.0, but Spark never returns -0.0
        assert struct.pack("d", got[i]) == struct.pack("d", _round14(v)), (
            v, got[i], _round14(v)
        )


def test_trainer_runs_iters_actions_no_count_job(labeled_docs):
    """The label count rides round 1's bucket aggregate (bias-bucket row
    count), so training is exactly `iters` collects — weights unchanged
    (the bit-identity is test_lazy_form_equals_checkpointed's job; this
    pins that n == |labels| is recovered without a count action by
    checking a non-trivial weight emerges from a single-round run)."""
    feats = hashed_doc_features(labeled_docs, dim=64)
    labels = labeled_docs.select("doc_id", "y")
    one = {
        r.bucket: r.w
        for r in train_logreg(feats, labels, dim=64, iters=1).collect()
    }
    lazy = {
        r.bucket: r.w
        for r in train_logreg(
            feats, labels, dim=64, iters=1, checkpoint=False
        ).collect()
    }
    assert one == lazy and any(w != 0.0 for w in one.values())
