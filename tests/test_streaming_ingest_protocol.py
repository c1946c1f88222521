"""The shared streaming-ingest protocol (streaming/neardup.py DedupIngest),
pinned across modalities: state readers on a fresh ingest, and the
crash window between the index/decision writes and the ledger commit.
"""

from __future__ import annotations

import numpy as np
import pytest

from cruncher_spark.streaming import neardup


@pytest.mark.parametrize(
    "cls",
    [
        neardup.NearDupIngest,
        neardup.EmbeddingDedupIngest,
        neardup.PerceptualDedupIngest,
        neardup.VideoDedupIngest,
        neardup.TextContainmentIngest,
    ],
    ids=lambda c: c.__name__,
)
def test_fresh_ingest_state_readers(spark, tmp_path, cls):
    """Before the first batch, decisions() is the empty frame of its
    declared schema; retained() keeps PointTable.read's
    FileNotFoundError."""
    ingest = cls(spark, str(tmp_path / "state"))
    dec = ingest.decisions()
    assert dec.columns == [cls.ID, "dup_of", "via", "batch_id"]
    assert dec.count() == 0
    with pytest.raises(FileNotFoundError):
        ingest.retained()


def _vec(seed: int) -> list[float]:
    rng = np.random.default_rng(seed)
    return [float(np.float32(x)) for x in rng.normal(size=64)]


def _embedding_case(spark):
    def feed(ingest, rows, bid):
        ingest.process_batch(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            bid,
        )

    b0 = [(0, _vec(0)), (1, _vec(1)), (2, _vec(2))]
    # 10 dups retained 0, 12 dups its batch peer 11
    b1 = [(10, _vec(0)), (11, _vec(5)), (12, _vec(5)), (13, _vec(6))]
    return neardup.EmbeddingDedupIngest, feed, b0, b1


def _image_case(spark):
    from cruncher_spark.functions.codecs import png_encode

    def img(seed):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(32, 40)).astype(np.uint8)

    def feed(ingest, rows, bid):
        ingest.process_image_batch(
            spark.createDataFrame(
                [(i, bytearray(png_encode(img(s)))) for i, s in rows],
                "media_id long, payload binary",
            ),
            bid,
        )

    b0 = [(10, 1), (11, 2)]
    b1 = [(20, 1), (21, 4), (22, 4), (23, 5)]
    return neardup.PerceptualDedupIngest, feed, b0, b1


def _containment_case(spark):
    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    def feed(ingest, rows, bid):
        ingest.process_doc_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), bid
        )

    a = words("a", 60)
    b0 = [(10, a), (11, words("b", 40))]
    # 20 quotes retained 10; 22 is 21 plus two words (batch drop)
    b1 = [
        (20, " ".join(a.split()[15:35])),
        (21, words("r", 30)),
        (22, words("r", 30) + " extra0 extra1"),
        (23, words("c", 25)),
    ]
    return neardup.TextContainmentIngest, feed, b0, b1


def _state(ingest):
    retained = sorted(
        (tuple(r) for r in ingest.retained().collect()), key=lambda t: t[0]
    )
    decisions = sorted(tuple(r) for r in ingest.decisions().collect())
    return retained, decisions


@pytest.mark.parametrize(
    "case",
    [_embedding_case, _image_case, _containment_case],
    ids=["embedding", "image", "containment"],
)
def test_crash_before_ledger_commit_replays_to_uncrashed_state(
    spark, tmp_path, monkeypatch, case
):
    """Outbox ordering: index and decisions land, the survivor merge
    fails before the ledger commit, and replaying the batch reaches
    exactly the retained set and decisions of a run that never
    crashed — including the via of in-batch drops."""
    cls, feed, b0, b1 = case(spark)

    clean = cls(spark, str(tmp_path / "clean"))
    feed(clean, b0, 0)
    feed(clean, b1, 1)
    want = _state(clean)
    assert {d[2] for d in want[1]} == {"history", "batch"}

    ingest = cls(spark, str(tmp_path / "crashed"))
    feed(ingest, b0, 0)

    def crashing(delta, batch_id=None):
        raise RuntimeError("crash before ledger commit")

    monkeypatch.setattr(ingest.survivors, "merge", crashing)
    with pytest.raises(RuntimeError):
        feed(ingest, b1, 1)
    monkeypatch.undo()
    assert ingest.decisions().count() == len(want[1])  # decisions landed

    feed(ingest, b1, 1)  # the replay Structured Streaming would run
    assert _state(ingest) == want


@pytest.mark.parametrize(
    "case",
    [_embedding_case, _image_case, _containment_case],
    ids=["embedding", "image", "containment"],
)
def test_decisions_keep_their_declared_columns_once_state_lands(
    spark, tmp_path, case
):
    """decisions() has one shape: the ``batch=<scope>`` dirs the decision
    files are written under are not read back as a column."""
    cls, feed, b0, b1 = case(spark)
    ingest = cls(spark, str(tmp_path / "state"))
    declared = [cls.ID, "dup_of", "via", "batch_id"]
    assert ingest.decisions().columns == declared
    feed(ingest, b0, 0)
    feed(ingest, b1, 1)
    dec = ingest.decisions()
    assert dec.columns == declared
    assert dec.count() > 0


def test_survivor_run_of_a_batch_is_one_file(spark, tmp_path):
    """The survivor table sets no bucket count: a batch's survivors
    append as a run of one file, and a compaction fold of small runs
    writes one file too."""
    cls, feed, b0, b1 = _embedding_case(spark)
    ingest = cls(spark, str(tmp_path / "state"))
    for bid, rows in enumerate((b0, b1)):
        feed(ingest, rows, bid)
        pt = ingest.survivors
        for run in pt._run_dirs(pt._current_version()):
            assert len(list(run.rglob("*.parquet"))) == 1, run
