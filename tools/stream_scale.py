"""Streaming ingest state-growth evidence (r6 VERDICT #6, reshaped per
r7 VERDICT #1/#5/#6).

The near-dup ingest filters claim per-batch cost "O(batch x matching
buckets), never a full-index shuffle" (`streaming/neardup.py`), and
since r8 the survivor table claims O(batch) MERGE cost via the LSM
append+compact mode (`merge/upsert.py`) — r7 measured the bucketed
survivor rewrite growing x3.39 in shuffle while the index grew x4,
the one curve that bent the wrong way at 100x. This tool MEASURES the
claims: replay micro-batches of unique-content items through the
ingest filters, recording per batch:

- wall clock of ``process_batch``,
- shuffle bytes written, read from the status store for the batch's
  own job group (``cruncher_spark/observe.py``),
- accumulated band-index rows + parquet file count (driver-side
  pyarrow metadata, no Spark job),
- live survivor LSM run count (the binary-counter invariant),
- whether the in-loop index auto-compaction fired (r7 VERDICT #5 —
  file counts must SAWTOOTH, not grow unboundedly).

Five sections (r7 VERDICT #6 asked for the video/containment replays;
r8 VERDICT #4 for the measured crawl path; r11 VERDICT #1 for the
embedding ingest — the one family with a density problem and no curve):

1. ``NearDupIngest``  — 50 x 1000 unique-content text docs;
2. ``VideoDedupIngest`` — 24 x 40 synthetic AVIs, frame-level dedup;
3. ``TextContainmentIngest`` — 24 x 300 docs with planted quotes;
4. crawl path e2e — 24 WARC segments (per-record gzip members) →
   ``UrlFrontier.filter_fresh`` → ``NearDupIngest``, with frontier
   seen-set rows/runs tracked beside the ingest columns;
5. ``EmbeddingDedupIngest`` — 24 x 500 unique embeddings (2% exact
   copies of earlier rows), ADAPTIVE banding vs the same stream
   through a CONSTRUCTION-PINNED instance, with the history
   candidate-join row count per batch — the density signal: pinned
   cells make it grow ∝ retained history (the r11 verdict's cost
   class), the (p, r) policy + index re-key holds it ~flat.

Expected shape everywhere: per-batch wall and shuffle FLAT-ish as
state grows — candidate joins broadcast the batch side with partition
pruning, survivor merges append O(batch) runs, and the only non-flat
events are the explicitly-marked compaction folds (amortized
logarithmic by the run-size invariant; the index auto-compaction is
tiered the same way since r8, its per-fold shuffle reported
out-of-band of the steady-state windows).

Writes STREAMSCALE.md. Usage:  python tools/stream_scale.py
"""

from __future__ import annotations

import shutil
import sys
import time
from itertools import count
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pyarrow.parquet as pq

SRC = Path("/root/testdata/sf0.1")
STATE = Path("/tmp/stream_scale")
N_BATCHES = 50
BATCH_DOCS = 1000
DUP_RATE = 0.05
AUTO_COMPACT = 16  # index batch-dir threshold -> in-loop fold (sawtooth)
_GROUPS = count()  # job-group serial: one group per measured batch


# ---------------------------------------------------------------------------
# workload generators
# ---------------------------------------------------------------------------


def _text_batches():
    """Yield N_BATCHES lists of (doc_id, text): unique id-seeded word
    soup, DUP_RATE near-copies of any earlier doc (cross-batch)."""
    texts = pq.read_table(
        SRC / "documents.parquet", columns=["text"]
    )["text"].to_pylist()
    # padded vocabulary, as tools/scale_stress.py build_uniq: the x1
    # corpus's ~40 words inflate BACKGROUND jaccard between unrelated
    # docs, which manufactures band-key matches (and so per-batch cost
    # growth) no realistic crawl exhibits
    vocab = np.array(
        sorted({w for t in texts for w in t.split()})
        + [f"tok{i:05d}" for i in range(5000)]
    )
    lens = np.array([len(t.split()) for t in texts])
    rng = np.random.default_rng(777)
    seen: list[str] = []
    next_id = 0
    for _ in range(N_BATCHES):
        batch = []
        for _ in range(BATCH_DOCS):
            if seen and rng.random() < DUP_RATE:
                j = int(rng.integers(0, len(seen)))
                w = seen[j].split()
                for p in rng.integers(0, len(w), max(1, len(w) // 20)):
                    w[int(p)] = str(rng.choice(vocab))
                text = " ".join(w)
            else:
                text = " ".join(
                    rng.choice(vocab, size=int(rng.choice(lens)))
                )
            batch.append((next_id, text))
            seen.append(text)
            next_id += 1
        yield batch


N_VID_BATCHES, BATCH_VIDS = 24, 40


def _video_batches():
    """(media_id, avi payload) batches: 8-frame random videos; 10% are
    re-encodes/clips of an earlier video (share frame hashes)."""
    from cruncher_spark.functions.codecs import avi_encode

    rng = np.random.default_rng(4242)
    seen: list[np.ndarray] = []
    next_id = 0
    for _ in range(N_VID_BATCHES):
        batch = []
        for _ in range(BATCH_VIDS):
            if seen and rng.random() < 0.10:
                src = seen[int(rng.integers(0, len(seen)))]
                # a clip: contiguous frame subset (shares exact hashes)
                lo = int(rng.integers(0, max(1, src.shape[0] - 3)))
                video = src[lo : lo + 4]
            else:
                video = rng.integers(
                    0, 256, size=(8, 24, 32)
                ).astype(np.uint8)
                seen.append(video)
            batch.append((next_id, bytearray(avi_encode(video, 10))))
            next_id += 1
        yield batch


N_CONT_BATCHES, BATCH_CONT = 24, 300


def _containment_batches():
    """(doc_id, text) batches for the containment filter: 10% of docs
    are a paragraph QUOTED from an earlier doc (containment ~1.0 at
    tiny jaccard — the case MinHash ingest structurally misses)."""
    rng = np.random.default_rng(9119)
    vocab = np.array([f"ctk{i:05d}" for i in range(8000)])
    seen: list[str] = []
    next_id = 0
    for _ in range(N_CONT_BATCHES):
        batch = []
        for _ in range(BATCH_CONT):
            if seen and rng.random() < 0.10:
                words = seen[int(rng.integers(0, len(seen)))].split()
                lo = int(rng.integers(0, max(1, len(words) - 12)))
                text = " ".join(words[lo : lo + 12])
            else:
                text = " ".join(
                    rng.choice(vocab, size=int(rng.integers(30, 60)))
                )
                seen.append(text)
            batch.append((next_id, text))
            next_id += 1
        yield batch


N_CRAWL_BATCHES, BATCH_PAGES = 24, 300


def _warc_http(status: int, ctype: str, payload: bytes) -> bytes:
    return (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode() + payload


def _warc_record(wtype: str, body: bytes, uri: str, rid: str) -> bytes:
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + wtype.encode(),
        b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">",
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"WARC-Target-URI: " + uri.encode(),
        b"Content-Type: application/http; msgtype=" + wtype.encode(),
        b"Content-Length: " + str(len(body)).encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _crawl_segments(dst: Path):
    """Yield N_CRAWL_BATCHES paths to ``.warc.gz`` segments (per-record
    gzip members — the Common Crawl framing `sources/warc.py` parses):
    unique id-seeded pages, 10% refetches of an earlier URL under
    tracker params with CHANGED text (the FRONTIER must drop them — a
    frontier miss wrongly retains changed text), 5% mirrors of earlier
    content at a NEW URL (the frontier must pass them; CONTENT dedup
    must drop them against history)."""
    import gzip

    dst.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(2718)
    vocab = np.array([f"wtk{i:05d}" for i in range(8000)])
    seen: list[tuple[str, str]] = []  # fresh (url, text) history
    next_id = 0
    for b in range(N_CRAWL_BATCHES):
        members = []
        for _ in range(BATCH_PAGES):
            r = rng.random()
            if seen and r < 0.10:
                url, _t = seen[int(rng.integers(0, len(seen)))]
                url += "?utm_source=recrawl"  # same canonical URL
                text = " ".join(rng.choice(vocab, size=40))  # changed
            elif seen and r < 0.15:
                _u, text = seen[int(rng.integers(0, len(seen)))]
                url = f"http://mirror{next_id}.example/copy"
            else:
                url = f"http://site{next_id}.example/page"
                text = " ".join(
                    rng.choice(vocab, size=int(rng.integers(30, 60)))
                )
                seen.append((url, text))
            body = f"<html><body><p>{text}</p></body></html>".encode()
            members.append(
                gzip.compress(
                    _warc_record(
                        "response",
                        _warc_http(200, "text/html", body),
                        url,
                        f"rec-{next_id}",
                    )
                )
            )
            next_id += 1
        p = dst / f"segment-{b:03d}.warc.gz"
        p.write_bytes(b"".join(members))
        yield str(p)


# ---------------------------------------------------------------------------
# measurement harness
# ---------------------------------------------------------------------------


N_EMB_BATCHES, BATCH_EMB, EMB_DIM, EMB_DUP_RATE = 24, 500, 64, 0.02


def _emb_batches():
    """N_EMB_BATCHES lists of (vec_id, float32 vec): unique gaussians
    (max background cosine ~0.5, far under the 0.98 threshold) with
    EMB_DUP_RATE EXACT copies of earlier uniques. Exact copies land in
    their original's cell under ANY banding, so the adaptive and the
    pinned ingest make IDENTICAL drop decisions on this stream — the
    comparison isolates candidate-volume cost, not recall."""
    rng = np.random.default_rng(4242)
    originals: list[tuple[int, list[float]]] = []
    next_id = 0
    out = []
    for _ in range(N_EMB_BATCHES):
        batch = []
        for _ in range(BATCH_EMB):
            if originals and rng.random() < EMB_DUP_RATE:
                j = int(rng.integers(0, len(originals)))
                batch.append((next_id, originals[j][1]))
            else:
                v = [
                    float(np.float32(x)) for x in rng.normal(size=EMB_DIM)
                ]
                batch.append((next_id, v))
                originals.append((next_id, v))
            next_id += 1
        out.append(batch)
    return out


def emb_replay(spark, ingest, batches) -> list[tuple]:
    """[(bid, wall, shuffle_bytes, cand_rows, p, r, rebanded)] — the
    embedding section's row shape: history candidate-join rows are the
    density signal, (p, r) the policy state, rebanded marks batches
    whose body re-keyed the index."""
    ingest.count_candidates = True
    rows = []
    for bid, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "vec_id long, embedding array<float>")
        before = (ingest.band_planes, ingest.n_bands)
        wall, sh = _measured(spark, lambda: ingest.process_batch(df, bid))
        p, r = ingest.band_planes, ingest.n_bands
        rows.append(
            (bid, wall, sh,
             ingest.last_history_candidates or 0, p, r,
             (p, r) != before)
        )
        print(
            f"batch {bid:3d} wall {wall:6.2f}s shuffle "
            f"{rows[-1][2]/1e6:7.2f} MB cand {rows[-1][3]:8d} "
            f"(p={p}, r={r}){' [reband]' if rows[-1][6] else ''}",
            flush=True,
        )
    return rows


def _emb_table(arows, prows) -> list[str]:
    lines = [
        "| batch | retained≈ | adaptive (p, r) | adaptive cand |"
        " adaptive wall s | pinned cand | pinned wall s |"
        " cand ratio pinned/adaptive |\n",
        "|---|---|---|---|---|---|---|---|\n",
    ]
    for a, p in zip(arows, prows):
        ret = a[0] * BATCH_EMB  # ~uniques ingested before this batch
        ratio = (p[3] / a[3]) if a[3] else float("nan")
        mark = " (reband)" if a[6] else ""
        lines.append(
            f"| {a[0]}{mark} | {ret} | ({a[4]}, {a[5]}) | {a[3]} |"
            f" {a[1]:.2f} | {p[3]} | {p[1]:.2f} |"
            f" {'x%.1f' % ratio if a[3] else '—'} |\n"
        )
    return lines


def _measured(spark, step) -> tuple[float, int]:
    """(wall seconds, shuffle bytes written) of ``step()``, whose Spark
    jobs run in a job group of their own."""
    from cruncher_spark import observe

    group = f"stream-scale-{next(_GROUPS)}"
    with observe.job_group(spark, group):
        t0 = time.monotonic()
        step()
        wall = time.monotonic() - t0
    return wall, int(observe.group_totals(spark, group)["shuffle_bytes"])


def _index_stats(index_dir: Path) -> tuple[int, int]:
    rows = files = 0
    for f in index_dir.rglob("*.parquet"):
        files += 1
        rows += pq.ParquetFile(f).metadata.num_rows
    return rows, files


def _survivor_runs(ingest) -> int:
    cur = ingest.survivors._current_version()
    return len(ingest.survivors._run_dirs(cur)) if cur is not None else 0


def replay(spark, ingest, batches, to_df) -> list[tuple]:
    """[(bid, wall, shuffle_bytes, idx_rows, idx_files, runs, folded)]"""
    rows = []
    prev_files = 0
    for bid, batch in enumerate(batches):
        df = to_df(batch)
        wall, sh = _measured(spark, lambda: ingest.process_batch(df, bid))
        irows, ifiles = _index_stats(ingest.index_dir)
        folded = ifiles < prev_files  # auto-compaction fired this batch
        rows.append(
            (bid, wall, sh, irows, ifiles, _survivor_runs(ingest), folded)
        )
        prev_files = ifiles
        print(
            f"batch {bid:3d} wall {wall:6.2f}s shuffle "
            f"{(rows[-1][2])/1e6:7.2f} MB index {irows} rows /"
            f" {ifiles} files runs {rows[-1][5]}"
            f"{' [index fold]' if folded else ''}",
            flush=True,
        )
    return rows


def _frontier_stats(frontier) -> tuple[int, int]:
    """(state rows, live LSM runs) from parquet metadata — no Spark job."""
    cur = frontier.state._current_version()
    if cur is None:
        return 0, 0
    rows = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in (cur / "data").rglob("*.parquet")
    )
    return rows, len(frontier.state._run_dirs(cur))


def crawl_replay(spark, frontier, ingest, segments) -> list[tuple]:
    """The full crawl path per segment: warc_documents →
    UrlFrontier.filter_fresh → NearDupIngest.process_batch. Row shape
    matches replay()'s (so _table/_verdict work) with two extra
    trailing columns: frontier state rows, frontier LSM runs."""
    from cruncher_spark.sources.warc import warc_documents

    def step(bid, seg):
        docs = warc_documents(spark, seg)
        fresh = frontier.filter_fresh(docs, f"crawl-{bid}")
        ingest.process_batch(fresh.select("doc_id", "text"), bid)

    rows = []
    prev_files = 0
    for bid, seg in enumerate(segments):
        wall, sh = _measured(spark, lambda: step(bid, seg))
        irows, ifiles = _index_stats(ingest.index_dir)
        folded = ifiles < prev_files
        frows, fruns = _frontier_stats(frontier)
        rows.append(
            (bid, wall, sh, irows, ifiles,
             _survivor_runs(ingest), folded, frows, fruns)
        )
        prev_files = ifiles
        print(
            f"batch {bid:3d} wall {wall:6.2f}s shuffle "
            f"{rows[-1][2]/1e6:7.2f} MB index {irows} rows /"
            f" {ifiles} files runs {rows[-1][5]} frontier {frows} rows /"
            f" {fruns} runs{' [index fold]' if folded else ''}",
            flush=True,
        )
    return rows


def _crawl_table(rows) -> list[str]:
    lines = [
        "| batch | wall s | shuffle MB | index rows | index files |"
        " survivor runs | frontier rows | frontier runs |\n",
        "|---|---|---|---|---|---|---|---|\n",
    ]
    for bid, wall, shd, irows, ifiles, runs, folded, frows, fruns in rows:
        mark = " (index fold)" if folded else ""
        lines.append(
            f"| {bid}{mark} | {wall:.2f} | {shd/1e6:.2f} |"
            f" {irows} | {ifiles} | {runs} | {frows} | {fruns} |\n"
        )
    return lines


def _window_mean(rows, lo, hi, col, skip_folds=False):
    vals = [
        r[col]
        for r in rows
        if lo <= r[0] < hi and not (skip_folds and r[6])
    ]
    return sum(vals) / len(vals)


def _table(rows) -> list[str]:
    lines = [
        "| batch | wall s | shuffle MB | index rows | index files |"
        " survivor runs |\n",
        "|---|---|---|---|---|---|\n",
    ]
    for bid, wall, shd, irows, ifiles, runs, folded in rows:
        mark = " (index fold)" if folded else ""
        lines.append(
            f"| {bid}{mark} | {wall:.2f} | {shd/1e6:.2f} |"
            f" {irows} | {ifiles} | {runs} |\n"
        )
    return lines


def _verdict(rows, lo1, hi1, lo2, hi2) -> list[str]:
    ew = _window_mean(rows, lo1, hi1, 1)
    lw = _window_mean(rows, lo2, hi2, 1)
    eb = _window_mean(rows, lo1, hi1, 2)
    lb = _window_mean(rows, lo2, hi2, 2)
    ebx = _window_mean(rows, lo1, hi1, 2, skip_folds=True)
    lbx = _window_mean(rows, lo2, hi2, 2, skip_folds=True)
    folds = [(r[0], r[2]) for r in rows if r[6]]
    out = [
        f"- mean wall batches {lo1}-{hi1 - 1}: **{ew:.2f}s**; batches "
        f"{lo2}-{hi2 - 1}: **{lw:.2f}s** (x{lw/ew:.2f})\n",
        f"- mean shuffle delta batches {lo1}-{hi1 - 1}: "
        f"**{eb/1e6:.2f} MB**; batches {lo2}-{hi2 - 1}: "
        f"**{lb/1e6:.2f} MB** (x{lb/eb:.2f} all batches; "
        f"x{lbx/ebx:.2f} steady-state, i.e. excluding the marked "
        "index-fold batches)\n",
        f"- max live survivor runs: **{max(r[5] for r in rows)}** "
        "(LSM binary-counter invariant — read cost stays logarithmic)\n",
    ]
    if folds:
        out.append(
            "- index auto-compaction fired at batch(es) "
            + ", ".join(f"{b} ({s/1e6:.1f} MB)" for b, s in folds)
            + " — file counts sawtooth instead of growing; folds are "
            "TIERED (fresh dirs + geometric compact-dir ladder by row "
            "count), so per-fold cost amortizes logarithmically; fold "
            "shuffle is reported per fold above and excluded from the "
            "steady-state ratio\n"
        )
    return out


def main() -> None:
    from cruncher_spark.streaming.neardup import (
        NearDupIngest,
        TextContainmentIngest,
        VideoDedupIngest,
    )

    if STATE.exists():
        shutil.rmtree(STATE)
    from cruncher_spark.session import get_spark

    spark = get_spark("stream-scale")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# STREAMSCALE — measured ingest state growth"
        " (tools/stream_scale.py)\n\n",
        "Per-batch wall + shuffle bytes (status store, one job group "
        "per batch) + "
        "accumulated band-index size + live survivor LSM run count, "
        "for three ingest filters replayed over unique-content "
        "micro-batches plus the end-to-end crawl path. Claims under "
        "test: candidate joins are "
        "O(batch x matching buckets) (broadcast batch side, partition "
        "pruning); survivor merges are O(batch) appends under the r8 "
        "LSM mode (r7 VERDICT #1 — the bucketed rewrite measured "
        "x3.39 shuffle growth here last round); the in-loop index "
        f"auto-compaction (threshold {AUTO_COMPACT} batch dirs) keeps "
        "file listings sawtoothing (r7 VERDICT #5).\n\n",
    ]

    # 1. text near-dup -----------------------------------------------------
    print("== NearDupIngest ==", flush=True)
    nd = NearDupIngest(
        spark, str(STATE / "text"), auto_compact_batches=AUTO_COMPACT
    )
    rows = replay(
        spark,
        nd,
        _text_batches(),
        lambda b: spark.createDataFrame(b, "doc_id long, text string"),
    )
    n_ret, n_dec = nd.retained().count(), nd.decisions().count()
    lines += [
        f"## 1. NearDupIngest — {N_BATCHES} x {BATCH_DOCS} docs "
        f"({DUP_RATE:.0%} cross-batch near-copies)\n\n",
        *_table(rows),
        "\n### Measured verdict\n\n",
        *_verdict(rows, 5, 15, 40, 50),
        f"- final state: {n_ret} retained docs, {n_dec} decisions, "
        f"{rows[-1][3]} index rows in {rows[-1][4]} files\n\n",
    ]

    # 2. video frame-level -------------------------------------------------
    print("== VideoDedupIngest ==", flush=True)
    vd = VideoDedupIngest(
        spark, str(STATE / "video"), auto_compact_batches=AUTO_COMPACT
    )
    vrows = replay(
        spark,
        vd,
        _video_batches(),
        lambda b: spark.createDataFrame(
            b, "media_id long, payload binary"
        ),
    )
    v_ret, v_dec = vd.retained().count(), vd.decisions().count()
    lines += [
        f"## 2. VideoDedupIngest — {N_VID_BATCHES} x {BATCH_VIDS} AVIs "
        "(10% re-encode/clip rate, frame-hash containment)\n\n",
        *_table(vrows),
        "\n### Measured verdict\n\n",
        *_verdict(vrows, 3, 10, 17, 24),
        f"- final state: {v_ret} retained videos, {v_dec} decisions\n\n",
    ]

    # 3. text containment --------------------------------------------------
    print("== TextContainmentIngest ==", flush=True)
    td = TextContainmentIngest(
        spark, str(STATE / "cont"), auto_compact_batches=AUTO_COMPACT
    )
    trows = replay(
        spark,
        td,
        _containment_batches(),
        lambda b: spark.createDataFrame(
            b, "media_id long, payload string"
        ),
    )
    t_ret, t_dec = td.retained().count(), td.decisions().count()
    lines += [
        f"## 3. TextContainmentIngest — {N_CONT_BATCHES} x {BATCH_CONT} "
        "docs (10% planted quotes, tau=9/10 containment)\n\n",
        *_table(trows),
        "\n### Measured verdict\n\n",
        *_verdict(trows, 3, 10, 17, 24),
        f"- final state: {t_ret} retained docs, {t_dec} decisions\n\n",
    ]

    # 4. crawl path end-to-end (r8 VERDICT #4) ------------------------------
    print("== Crawl path: WARC -> frontier -> content dedup ==", flush=True)
    from cruncher_spark.streaming.frontier import UrlFrontier

    frontier = UrlFrontier(spark, str(STATE / "crawl_urls"))
    cd = NearDupIngest(
        spark, str(STATE / "crawl_text"), auto_compact_batches=AUTO_COMPACT
    )
    crows = crawl_replay(
        spark, frontier, cd, _crawl_segments(STATE / "crawl_segments")
    )
    c_ret, c_dec = cd.retained().count(), cd.decisions().count()
    c_seen = frontier.seen_urls().count()
    n_pages = N_CRAWL_BATCHES * BATCH_PAGES
    lines += [
        f"## 4. Crawl path e2e — {N_CRAWL_BATCHES} x {BATCH_PAGES} "
        "pages: WARC segments (per-record gzip members) → "
        "UrlFrontier.filter_fresh → NearDupIngest (10% URL refetches "
        "the frontier must drop, 5% content mirrors content dedup must "
        "drop)\n\n",
        *_crawl_table(crows),
        "\n### Measured verdict\n\n",
        *_verdict(crows, 3, 10, 17, 24),
        f"- max live frontier LSM runs: **{max(r[8] for r in crows)}** "
        "(seen-set appends stay O(batch); binary-counter fold "
        "invariant)\n",
        f"- final state: {n_pages} pages crawled → {c_seen} frontier "
        f"URLs (refetches collapsed), {c_ret} retained docs, {c_dec} "
        "content-dedup decisions — refetched-changed pages never "
        "reached the content filter (retained + mirror decisions + "
        "frontier-dropped refetches = pages)\n",
    ]

    # 5. embedding ingest: adaptive vs pinned banding (r11 VERDICT #1) ------
    print("== EmbeddingDedupIngest: adaptive vs pinned ==", flush=True)
    from cruncher_spark.operators.similarity import _sdd_params_for
    from cruncher_spark.streaming.neardup import EmbeddingDedupIngest

    ebatches = _emb_batches()
    # check cadence 4 (default 8): 24 batches x 500 rows cross several
    # power-of-two cell boundaries — a tighter cadence makes each step
    # land in the table instead of lagging to the next multiple of 8
    ad = EmbeddingDedupIngest(
        spark,
        str(STATE / "emb_adaptive"),
        auto_compact_batches=AUTO_COMPACT,
        reband_check_every=4,
    )
    arows = emb_replay(spark, ad, ebatches)
    # the pinned instance gets the policy's t=0 value — right-sized at
    # stream start, then held FOREVER (the pre-r12 construction): its
    # per-cell population, and so its candidate volume, grows with
    # everything ever retained
    p0, r0 = _sdd_params_for(0, 0.98)
    pn = EmbeddingDedupIngest(
        spark,
        str(STATE / "emb_pinned"),
        n_bands=r0,
        band_planes=p0,
        auto_compact_batches=AUTO_COMPACT,
    )
    prows = emb_replay(spark, pn, ebatches)
    # exact-copy stream ⇒ the two instances must agree decision-for-
    # decision (banding moves candidate COST, not exact-copy recall)
    a_dec = {(r.vec_id, r.dup_of) for r in ad.decisions().collect()}
    p_dec = {(r.vec_id, r.dup_of) for r in pn.decisions().collect()}
    same = a_dec == p_dec
    lo1, hi1, lo2, hi2 = 2, 7, 19, 24
    a_e = _window_mean(arows, lo1, hi1, 3)
    a_l = _window_mean(arows, lo2, hi2, 3)
    p_e = _window_mean(prows, lo1, hi1, 3)
    p_l = _window_mean(prows, lo2, hi2, 3)
    aw_e, aw_l = _window_mean(arows, lo1, hi1, 1), _window_mean(arows, lo2, hi2, 1)
    pw_e, pw_l = _window_mean(prows, lo1, hi1, 1), _window_mean(prows, lo2, hi2, 1)
    rebands = [(r[0], r[4], r[5]) for r in arows if r[6]]
    lines += [
        f"## 5. EmbeddingDedupIngest — {N_EMB_BATCHES} x {BATCH_EMB} "
        f"embeddings ({EMB_DUP_RATE:.0%} exact copies of earlier rows): "
        "ADAPTIVE (p, r) policy + index re-key vs CONSTRUCTION-PINNED "
        f"banding (the policy's t=0 value ({p0}, {r0}), held forever — "
        "the pre-r12 shape the r11 verdict flagged)\n\n",
        *_emb_table(arows, prows),
        "\n### Measured verdict\n\n",
        f"- history candidate-join rows, batches {lo1}-{hi1 - 1} → "
        f"{lo2}-{hi2 - 1}: adaptive **{a_e:.0f} → {a_l:.0f}** "
        f"(x{a_l / a_e:.2f}); pinned **{p_e:.0f} → {p_l:.0f}** "
        f"(x{p_l / p_e:.2f}) — the pinned curve tracks retained "
        "history (the quadratic-total cost class), the adaptive curve "
        "moves only with the policy's r\n",
        f"- per-batch wall, same windows: adaptive {aw_e:.2f}s → "
        f"{aw_l:.2f}s (x{aw_l / aw_e:.2f}); pinned {pw_e:.2f}s → "
        f"{pw_l:.2f}s (x{pw_l / pw_e:.2f})\n",
        "- policy steps (re-key batches): "
        + (
            ", ".join(f"batch {b} → (p={p}, r={r})" for b, p, r in rebands)
            or "none"
        )
        + " — each re-band is one consolidated rewrite of the retained "
        "index (the compactor's amortization story), marked in the "
        "table and visible as its batch's wall/shuffle spike\n",
        f"- drop decisions identical between the two instances: "
        f"**{same}** (exact-copy stream — banding moves candidate "
        "cost, never exact-copy recall)\n",
        f"- final adaptive (p, r) = ({arows[-1][4]}, {arows[-1][5]}), "
        f"{ad.retained().count()} retained / {len(a_dec)} decisions "
        "(pinned identical by the line above)\n",
    ]

    Path(__file__).resolve().parent.parent.joinpath(
        "STREAMSCALE.md"
    ).write_text("".join(lines))
    print("wrote STREAMSCALE.md")


if __name__ == "__main__":
    main()
