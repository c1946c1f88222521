"""Resume check for the streaming dedup ingests' on-disk state.

State written by one checkout of the code must keep replaying under
another: ledger ids, ``batch=<scope>`` dirs, index schemas and bucket
math, ``band_policy.json`` and the survivor table layout. For each of
the five ingests (text MinHash, embedding, image, video, text
containment) this script:

- ``write ROOT``: feeds batches 0 and 1 into ``ROOT/<ingest>/state``,
  copies that state to ``ROOT/<ingest>/expected``, feeds batch 2 into
  the copy and records its retained rows and decisions in
  ``ROOT/<ingest>/expected.json``;
- ``resume ROOT``: reopens ``ROOT/<ingest>/state``, replays batch 1
  (which must be a survivor-ledger no-op), feeds batch 2 and checks
  that retained rows and decisions equal ``expected.json``.

Run ``write`` with the OLD code on the import path and ``resume`` with
the new (the script imports ``cruncher_spark`` from ``PYTHONPATH``, so
one copy of the script drives both)::

    PYTHONPATH=/path/to/old-checkout python tools/ingest_resume_check.py write /tmp/resume
    PYTHONPATH=. python tools/ingest_resume_check.py resume /tmp/resume

Prints one ``OK``/``FAIL`` line per ingest; exits non-zero on a failure.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path


def _doc(seed: int) -> str:
    return " ".join(f"w{seed}x{j}" for j in range(30))


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _cases(spark):
    """name -> (constructor, feed(ingest, rows, batch_id), [b0, b1, b2])."""
    import numpy as np

    from cruncher_spark.functions.codecs import avi_encode, png_encode
    from cruncher_spark.streaming import neardup

    def vec(seed):
        rng = np.random.default_rng(seed)
        return [float(np.float32(x)) for x in rng.normal(size=64)]

    def img(seed):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(32, 40)).astype(np.uint8)

    def video(*seeds):
        return np.stack(
            [
                np.random.RandomState(s).randint(0, 256, size=(24, 32)).astype(np.uint8)
                for s in seeds
            ]
        )

    def feed_text(ing, rows, bid):
        ing.process_batch(spark.createDataFrame(rows, "doc_id long, text string"), bid)

    def feed_vec(ing, rows, bid):
        ing.process_batch(
            spark.createDataFrame(
                [(i, vec(s)) for i, s in rows], "vec_id long, embedding array<float>"
            ),
            bid,
        )

    def feed_img(ing, rows, bid):
        ing.process_image_batch(
            spark.createDataFrame(
                [(i, bytearray(png_encode(img(s)))) for i, s in rows],
                "media_id long, payload binary",
            ),
            bid,
        )

    def feed_video(ing, rows, bid):
        ing.process_batch(
            spark.createDataFrame(
                [(i, bytearray(avi_encode(video(*s), 10))) for i, s in rows],
                "media_id long, payload binary",
            ),
            bid,
        )

    def feed_docs(ing, rows, bid):
        ing.process_doc_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), bid
        )

    # every case: batch 1 holds a history drop and an in-batch drop,
    # batch 2 a drop against a batch-1 survivor and a fresh item
    a = _words("a", 60)
    return {
        "text": (
            neardup.NearDupIngest,
            feed_text,
            [
                [(0, _doc(0)), (1, _doc(1)), (2, _doc(2))],
                [(10, _doc(0)), (11, _doc(4)), (12, _doc(4)), (13, _doc(5))],
                [(20, _doc(4)), (21, _doc(6)), (22, _doc(1))],
            ],
        ),
        "embedding": (
            neardup.EmbeddingDedupIngest,
            feed_vec,
            [
                [(0, 0), (1, 1), (2, 2)],
                [(10, 0), (11, 5), (12, 5), (13, 6)],
                [(20, 5), (21, 7), (22, 1)],
            ],
        ),
        "image": (
            neardup.PerceptualDedupIngest,
            feed_img,
            [
                [(10, 1), (11, 2)],
                [(20, 1), (21, 4), (22, 4), (23, 5)],
                [(30, 4), (31, 6)],
            ],
        ),
        "video": (
            neardup.VideoDedupIngest,
            feed_video,
            [
                [(1, (1, 2)), (2, (3, 4))],
                [(3, (1, 2)), (4, (5, 6)), (5, (5, 6, 7)), (6, (13, 14))],
                [(7, (5, 9)), (8, (10, 11))],
            ],
        ),
        "containment": (
            neardup.TextContainmentIngest,
            feed_docs,
            [
                [(10, a), (11, _words("b", 40))],
                [
                    (20, " ".join(a.split()[15:35])),
                    (21, _words("r", 30)),
                    (22, _words("r", 30) + " extra0 extra1"),
                    (23, _words("c", 25)),
                ],
                [(30, " ".join(_words("r", 30).split()[2:25])), (31, _words("d", 20))],
            ],
        ),
    }


def _snapshot(ing) -> dict:
    def rows(df):
        return sorted(json.dumps(list(r), sort_keys=True) for r in df.collect())

    # the declared decision columns: older builds also returned the
    # discovered batch=<scope> partition column
    decisions = ing.decisions().select(ing.ID, "dup_of", "via", "batch_id")
    return {"retained": rows(ing.retained()), "decisions": rows(decisions)}


def main(argv: list[str]) -> int:
    if len(argv) != 2 or argv[0] not in ("write", "resume"):
        print(__doc__)
        return 2
    mode, root = argv[0], Path(argv[1])
    from cruncher_spark.session import get_spark

    spark = get_spark("ingest-resume-check")
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    for name, (cls, feed, batches) in _cases(spark).items():
        state, expected = root / name / "state", root / name / "expected"
        if mode == "write":
            shutil.rmtree(root / name, ignore_errors=True)
            ing = cls(spark, str(state))
            feed(ing, batches[0], 0)
            feed(ing, batches[1], 1)
            shutil.copytree(state, expected)
            cont = cls(spark, str(expected))
            feed(cont, batches[2], 2)
            (root / name / "expected.json").write_text(json.dumps(_snapshot(cont)))
            print(f"WROTE {name}", flush=True)
            continue
        want = json.loads((root / name / "expected.json").read_text())
        ing = cls(spark, str(state))
        versions = ing.survivors.versions()
        before = _snapshot(ing)["retained"]
        feed(ing, batches[1], 1)
        noop = ing.survivors.versions() == versions and (
            _snapshot(ing)["retained"] == before
        )
        feed(ing, batches[2], 2)
        same = _snapshot(ing) == want
        ok = noop and same
        failed += not ok
        print(
            f"{'OK' if ok else 'FAIL'} {name}: replay of batch 1 is a ledger "
            f"no-op={noop}, batch 2 state equals the writer's={same}",
            flush=True,
        )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
