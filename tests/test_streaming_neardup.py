"""Streaming near-dup ingest filter vs a sequential reference replay.

The reference implementation below replays the micro-batches in order,
applying the module's pinned retention rule directly on the SAME
signatures the operator computes (shared hash family) — so the assertion
holds wherever each perturbed pair happens to land relative to the
agreement threshold, while exact copies are guaranteed drops.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

NUM_HASHES = 8
MIN_AGREE = 6  # 0.75 * 8
N_BANDS = 4
BAND_SIZE = 2

def _doc(seed: int, n: int = 30) -> str:
    # disjoint per-seed vocabulary: cross-doc Jaccard is exactly 0, so
    # only the PLANTED dups (exact copies + the one perturbation) match
    return " ".join(f"w{seed}x{j}" for j in range(n))


def _batches() -> list[list[tuple[int, str]]]:
    base = {i: _doc(i) for i in range(8)}
    perturbed = base[2].split()
    perturbed[-1] = "CHANGED"
    b0 = [(0, base[0]), (1, base[1]), (2, base[2]), (3, base[3])]
    b1 = [
        (10, base[0]),            # exact dup of history survivor 0
        (11, base[4]),
        (12, base[4]),            # exact in-batch dup of 11
        (13, base[4]),            # chain: also collapses to 11
        (14, " ".join(perturbed)),  # near-dup of 2 — threshold decides
    ]
    b2 = [
        (20, base[4]),            # dup of retained 11 (12/13 not indexed)
        (21, base[5]),
        (22, base[1]),            # dup of history survivor 1
        (23, "short text"),       # < shingle length: passes through
    ]
    return [b0, b1, b2]


def _write_batch(docs_dir: Path, name: str, rows: list[tuple[int, str]], mtime: float):
    p = docs_dir / name
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        p,
    )
    os.utime(p, (mtime, mtime))


def _signatures(spark, all_rows: list[tuple[int, str]]) -> dict[int, tuple]:
    """The operator's own signature pipeline, run batch-side."""
    from cruncher_spark.operators.dedup import minhash_signatures, shingle_arrays

    df = spark.createDataFrame(all_rows, "doc_id long, text string")
    sigs = minhash_signatures(
        shingle_arrays(df, "doc_id", "text", 3), "doc_id", num_hashes=NUM_HASHES
    )
    return {
        r.doc_id: tuple(r[f"mh_{i}"] for i in range(NUM_HASHES))
        for r in sigs.collect()
    }


def _bands_of(sig: tuple) -> set[tuple[int, str]]:
    return {
        (b, ":".join(str(sig[b * BAND_SIZE + j]) for j in range(BAND_SIZE)))
        for b in range(N_BANDS)
    }


def _agree(s1: tuple, s2: tuple) -> int:
    return sum(a == b for a, b in zip(s1, s2))


def _matches(s1: tuple, s2: tuple) -> bool:
    return bool(_bands_of(s1) & _bands_of(s2)) and _agree(s1, s2) >= MIN_AGREE


def _reference(batches, sigs):
    """Sequential replay of the pinned retention rule."""
    retained: dict[int, tuple] = {}
    decisions: dict[int, tuple[int, str]] = {}
    for batch in batches:
        in_batch = {i: sigs[i] for i, _ in batch if i in sigs}
        kept_now = []
        for i, s in in_batch.items():
            hist = sorted(r for r, rs in retained.items() if _matches(s, rs))
            peers = sorted(
                p for p, ps in in_batch.items() if p < i and _matches(s, ps)
            )
            if hist:
                decisions[i] = (hist[0], "history")
            elif peers:
                decisions[i] = (peers[0], "batch")
            else:
                kept_now.append(i)
        retained.update({i: in_batch[i] for i in kept_now})
    return retained, decisions


@pytest.fixture(scope="module")
def ingest_env(spark, tmp_path_factory):
    from cruncher_spark.streaming.neardup import NearDupIngest

    root = tmp_path_factory.mktemp("neardup")
    docs_dir = root / "incoming"
    docs_dir.mkdir()
    batches = _batches()
    t0 = time.time() - 100
    for k, b in enumerate(batches):
        _write_batch(docs_dir, f"b{k}.parquet", b, t0 + k)

    nd = NearDupIngest(spark, str(root / "state"))
    q = nd.start_file_stream(
        str(docs_dir),
        str(root / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)

    all_rows = [r for b in batches for r in b]
    sigs = _signatures(spark, all_rows)
    ref_retained, ref_decisions = _reference(batches, sigs)
    return nd, root, docs_dir, batches, sigs, ref_retained, ref_decisions


def test_retained_set_matches_sequential_reference(ingest_env):
    nd, _, _, _, sigs, ref_retained, _ = ingest_env
    got = {
        r.doc_id: tuple(r[f"mh_{i}"] for i in range(NUM_HASHES))
        for r in nd.retained().collect()
    }
    assert got == ref_retained
    # the planted guarantees, independent of threshold luck:
    assert {0, 1, 2, 3, 11, 21} <= set(got)          # firsts survive
    assert not {10, 12, 13, 20, 22} & set(got)       # exact dups drop
    assert 23 not in got                              # shingle-less bypass


def test_decisions_match_reference(ingest_env):
    nd, _, _, _, _, _, ref_decisions = ingest_env
    got = {
        r.doc_id: (r.dup_of, r.via) for r in nd.decisions().collect()
    }
    assert got == ref_decisions
    assert got[10] == (0, "history")
    assert got[12] == (11, "batch") and got[13] == (11, "batch")
    assert got[20] == (11, "history") and got[22] == (1, "history")


def test_replayed_batch_is_ledger_noop(ingest_env, spark):
    nd, _, _, batches, _, ref_retained, _ = ingest_env
    before = sorted(r.doc_id for r in nd.retained().collect())
    df = spark.createDataFrame(batches[1], "doc_id long, text string")
    nd.process_batch(df, 1)  # same stream-scoped batch id → ledger skip
    after = sorted(r.doc_id for r in nd.retained().collect())
    assert before == after == sorted(ref_retained)


def test_restart_continues_against_accumulated_index(ingest_env, spark):
    nd, root, docs_dir, batches, sigs, ref_retained, _ = ingest_env
    b3 = [(30, _doc(0)), (31, _doc(6))]  # dup-of-0 + fresh doc
    _write_batch(docs_dir, "b3.parquet", b3, time.time())

    from cruncher_spark.streaming.neardup import NearDupIngest

    nd2 = NearDupIngest(spark, str(root / "state"))
    q = nd2.start_file_stream(
        str(docs_dir),
        str(root / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)

    all_sigs = {**sigs, **_signatures(spark, b3)}
    ref2, _ = _reference(batches + [b3], all_sigs)
    got = sorted(r.doc_id for r in nd2.retained().collect())
    assert got == sorted(ref2)
    assert 31 in got and 30 not in got


def test_survivorless_first_batch_is_safe(spark, tmp_path):
    """A first batch with no signable docs must not poison index reads
    (its partition dir holds only _SUCCESS — schema is explicit)."""
    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(spark, str(tmp_path / "state"))
    nd.process_batch(
        spark.createDataFrame([(1, "too short")], "doc_id long, text string"), 0
    )
    nd.process_batch(
        spark.createDataFrame([(2, _doc(9))], "doc_id long, text string"), 1
    )
    assert sorted(r.doc_id for r in nd.retained().collect()) == [2]


def test_compact_index_preserves_dedup_behavior(ingest_env, spark):
    """Compaction folds per-batch index dirs into one, and the filter
    keeps making the same decisions against the compacted index."""
    from cruncher_spark.streaming.neardup import NearDupIngest

    nd, root, _, _, _, _, _ = ingest_env
    idx_before = {
        (r.doc_id, r.band_idx, r.band_key)
        for r in nd._read_index().collect()
    }
    folded = nd.compact_index()
    assert folded >= 2
    dirs = [d for d in nd.index_dir.iterdir() if d.name.startswith("batch=")]
    assert len(dirs) == 1 and dirs[0].name.startswith("batch=compact-")
    idx_after = {
        (r.doc_id, r.band_idx, r.band_key)
        for r in nd._read_index().collect()
    }
    assert idx_after == idx_before
    assert nd.compact_index() == 0  # already consolidated

    # a post-compaction batch still dedups against the whole history
    nd2 = NearDupIngest(spark, str(root / "state"))
    nd2.process_batch(
        spark.createDataFrame(
            [(40, _doc(1)), (41, _doc(7))], "doc_id long, text string"
        ),
        99,
    )
    kept = {r.doc_id for r in nd2.retained().collect()}
    assert 41 in kept and 40 not in kept  # 40 duplicates survivor 1


def test_compact_index_serializes_on_writer_lock(spark, tmp_path):
    """ADVICE r6 neardup.py:341: compact_index takes the survivor
    table's WRITER.lock, so a concurrent writer holding it (another
    ingest instance mid-merge on the same state_dir) blocks the
    compaction's rmtree instead of racing it."""
    import fcntl
    import threading
    import time

    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(spark, str(tmp_path / "state"))
    for i, bid in ((0, 0), (20, 1)):
        nd.process_batch(
            spark.createDataFrame(
                [(i + 1, _doc(9 + i)), (i + 2, _doc(10 + i))],
                "doc_id long, text string",
            ),
            bid,
        )
    hold_s = 0.8
    lockf = open(nd.survivors.path / "WRITER.lock", "w")
    fcntl.flock(lockf, fcntl.LOCK_EX)
    released_at = [0.0]

    def release():
        time.sleep(hold_s)
        released_at[0] = time.monotonic()
        fcntl.flock(lockf, fcntl.LOCK_UN)
        lockf.close()

    t = threading.Thread(target=release)
    t.start()
    assert nd.compact_index() >= 2
    done_at = time.monotonic()
    t.join()
    # compaction could only finish after the lock was released
    assert done_at >= released_at[0] > 0


def test_crash_between_index_write_and_ledger_commit_recovers(
    spark, tmp_path, monkeypatch
):
    """Outbox ordering: index/decisions land first, the ledger merge
    commits last. A crash in between replays the batch — recomputation
    against an index that already holds the batch's docs must reach the
    same verdicts (self-matches excluded) and land the survivors once."""
    import pytest as _pytest

    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(spark, str(tmp_path / "state"))
    nd.process_batch(
        spark.createDataFrame(
            [(0, _doc(0)), (1, _doc(1))], "doc_id long, text string"
        ),
        0,
    )

    b1 = [(10, _doc(2)), (11, _doc(2)), (12, _doc(0)), (13, _doc(3))]
    df1 = spark.createDataFrame(b1, "doc_id long, text string")
    real_merge = nd.survivors.merge

    def crashing(delta, batch_id=None):
        raise RuntimeError("crash before ledger commit")

    monkeypatch.setattr(nd.survivors, "merge", crashing)
    with _pytest.raises(RuntimeError):
        nd.process_batch(df1, 1)  # index written, merge never committed
    monkeypatch.setattr(nd.survivors, "merge", real_merge)

    nd.process_batch(df1, 1)  # replay into the crash window
    kept = sorted(r.doc_id for r in nd.retained().collect())
    assert kept == [0, 1, 10, 13]  # 11 dups 10 in-batch, 12 dups history 0
    dec = {r.doc_id: r.dup_of for r in nd.decisions().collect()}
    assert dec[11] == 10 and dec[12] == 0
    # survivor 10 was already in the index during the replay — the
    # self-match guard kept it retained rather than dropping it
    assert 10 in kept


def test_compact_index_with_only_empty_batch_dirs(spark, tmp_path):
    """ADVICE r7 neardup.py:356: >=2 batch dirs can exist whose
    partition dirs hold only _SUCCESS (all docs too short to shingle).
    _read_index() returns None there — compaction must fold the empty
    dirs away instead of crashing on idx.drop."""
    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(spark, str(tmp_path / "state"))
    for bid in (0, 1):
        nd.process_batch(
            spark.createDataFrame(
                [(bid, "too short")], "doc_id long, text string"
            ),
            bid,
        )
    dirs = [d for d in nd.index_dir.iterdir() if d.name.startswith("batch=")]
    assert len(dirs) == 2
    assert nd.compact_index() == 2
    assert not any(
        d.name.startswith("batch=") for d in nd.index_dir.iterdir()
    )
    # the ingest keeps working after the empty-fold
    nd.process_batch(
        spark.createDataFrame([(5, _doc(5))], "doc_id long, text string"), 2
    )
    assert sorted(r.doc_id for r in nd.retained().collect()) == [5]


def test_auto_compaction_triggers_inside_process_batch(spark, tmp_path):
    """r7 VERDICT #5: with auto_compact_batches=N the per-batch index
    dirs fold from INSIDE process_batch once the count reaches N (the
    re-entrant writer lock held across the batch body makes the fold
    race-free) — file counts sawtooth instead of growing unboundedly,
    and decisions are unchanged."""
    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(
        spark, str(tmp_path / "state"), auto_compact_batches=3
    )
    for bid in range(4):
        nd.process_batch(
            spark.createDataFrame(
                [(10 * bid + j, _doc(10 * bid + j)) for j in range(2)],
                "doc_id long, text string",
            ),
            bid,
        )
        dirs = [
            d for d in nd.index_dir.iterdir() if d.name.startswith("batch=")
        ]
        # policy: count stays under the threshold + 1 fresh batch dir
        assert len(dirs) <= 3
    # after batch 2 hit the threshold the fold ran: compact dir present
    assert any(
        d.name.startswith("batch=compact-") for d in nd.index_dir.iterdir()
    )
    # dedup behavior against the compacted history is intact
    nd.process_batch(
        spark.createDataFrame(
            [(900, _doc(0)), (901, _doc(777))], "doc_id long, text string"
        ),
        99,
    )
    kept = {r.doc_id for r in nd.retained().collect()}
    assert 901 in kept and 900 not in kept  # 900 duplicates survivor 0


def test_writer_lock_is_reentrant(spark, tmp_path):
    """merge/upsert.py writer_lock: the outermost `with` owns the
    flock; nested acquisition (a merge inside a held lock — exactly
    what process_batch does) must not self-deadlock."""
    from cruncher_spark.merge.upsert import MergePolicy, PointTable

    pt = PointTable(
        spark,
        str(tmp_path / "pt"),
        key=["k"],
        policies={"v": MergePolicy.ADD},
    )
    d = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    with pt.writer_lock():
        with pt.writer_lock():  # nested no-op
            assert pt.merge(d, batch_id="b0") is True  # takes it again
        assert pt._lock_state.depth == 1
    assert pt._lock_state.depth == 0
    assert pt.merge(d, batch_id="b0") is False  # ledger replay no-op
    rows = {r.k: r.v for r in pt.read().collect()}
    assert rows == {1: 10, 2: 20}


def test_crash_mid_auto_compaction_converges(spark, tmp_path, monkeypatch):
    """r7 VERDICT #5 crash-safety: an auto-compaction that dies AFTER
    its consolidated write but BEFORE removing the old batch dirs
    leaves duplicate band rows. The filter keeps making correct
    decisions (duplicate candidates absorb into the per-doc min), and
    the NEXT compaction's distinct fold removes the redundancy."""
    import shutil as _shutil

    from cruncher_spark.streaming.neardup import NearDupIngest

    nd = NearDupIngest(
        spark, str(tmp_path / "state"), auto_compact_batches=2
    )
    nd.process_batch(
        spark.createDataFrame(
            [(0, _doc(0)), (1, _doc(1))], "doc_id long, text string"
        ),
        0,
    )
    real_rmtree = _shutil.rmtree

    def crashing_rmtree(p, *a, **k):
        if "batch=" in str(p):
            raise RuntimeError("crash before old dirs removed")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr("shutil.rmtree", crashing_rmtree)
    with pytest.raises(RuntimeError):
        # batch 1 lands (merge commits first), then the auto-fold dies
        nd.process_batch(
            spark.createDataFrame(
                [(10, _doc(2))], "doc_id long, text string"
            ),
            1,
        )
    monkeypatch.undo()
    # crash window: consolidated dir + old batch dirs coexist -> the
    # index holds duplicate rows; decisions must still be correct
    dirs = [d for d in nd.index_dir.iterdir() if d.name.startswith("batch=")]
    assert any(d.name.startswith("batch=compact-") for d in dirs)
    assert len(dirs) >= 3
    nd.process_batch(
        spark.createDataFrame(
            [(20, _doc(0)), (21, _doc(9))], "doc_id long, text string"
        ),
        2,
    )
    kept = {r.doc_id for r in nd.retained().collect()}
    assert 21 in kept and 20 not in kept  # 20 dups survivor 0 once, not twice
    dec = {r.doc_id: r.dup_of for r in nd.decisions().collect()}
    assert dec[20] == 0
    # the next compaction folds the redundancy away: distinct rows only
    nd.compact_index()
    rows = [
        (r.doc_id, r.band_idx, r.band_key)
        for r in nd._read_index().collect()
    ]
    assert len(rows) == len(set(rows))
    assert {r[0] for r in rows} == kept  # every survivor indexed once
