"""Streaming dedup ingests: continuous filtering of an incoming item
stream against everything already retained — text MinHash/LSH
(:class:`NearDupIngest`), embeddings (:class:`EmbeddingDedupIngest`),
image/audio dHash bit vectors (:class:`PerceptualDedupIngest`,
:class:`AudioDedupIngest`), video frame hashes (:class:`VideoDedupIngest`)
and text containment (:class:`TextContainmentIngest`).

The batch dedup operators (operators/dedup.py) answer "which items in
THIS corpus are near-dups"; a 100 TB training-data pipeline also needs
the ONLINE form — every micro-batch checked against everything already
retained, survivors folded into the index, duplicates tagged with what
they duplicate.

Every ingest runs ONE protocol, owned by :class:`DedupIngest` (the
reference deploys one worker protocol N times the same way). A modality
supplies only the hook ``_dedup(batch) -> (dropped, index_rows, kept)``
plus its signature / banding / verification code. The protocol:

- **ledger id and scope**: micro-batch ``n`` of stream ``sid`` (minted in
  the checkpoint dir by ``checkpoint_stream_id``; ``local`` for batches
  fed directly) has ledger id ``<sid>:<n>``. That id is the survivor
  table's batch-id ledger entry and the decisions' ``batch_id`` column;
  made filesystem-safe by :func:`_scope_dirname`, it names the
  ``batch=<scope>`` dir of the batch's index and decision writes.
  ``CrunchWorker`` spells its ledger ids ``stream-<sid>-<n>``. The two
  formats differ only because both are already on disk: a resumed
  stream whose ids changed spelling would re-apply its last epoch under
  a new id.
- **index**: ``band_index/batch=<scope>/band_bucket=<b>/`` parquet,
  hash-partitioned by ``band_bucket = pmod(…, INDEX_BUCKETS)``, each row
  carrying what candidate verification needs (no second lookup join;
  the schema is the class's ``INDEX_SCHEMA``). The batch side of the
  candidate join is micro-batch-sized and broadcast, and the join keys
  include the partition column, so dynamic partition pruning skips
  untouched buckets: per-batch cost is O(batch x matching buckets),
  never a full-index shuffle.
- **verdicts**: an item is DROPPED when it matches a retained item
  (``via='history'``) or a smaller-id item of its own batch
  (``via='batch'``; chains collapse to their minimum id — the batch
  operators' min-id-survivor convention). When both hit, history wins
  the decision record. The history side never matches the batch's own
  ids. Items with no signature pass through unindexed — a length or
  quality filter owns those.
- **outbox order and replay convergence**: index rows and decisions
  land FIRST, as idempotent overwrites of the batch's scope dir; the
  ledger-gated survivor merge (a KEEP-policy LSM ``PointTable``)
  commits LAST. A crash in between replays the batch against an index
  that already holds its survivors; because history excludes the
  batch's own ids, the replay reaches the same verdicts and lands the
  survivors once. Structured Streaming replays only the last
  uncommitted epoch, so the index is at most one batch ahead of the
  survivor table. A replay after the commit is a survivor-ledger no-op.
- **locking**: ``process_batch`` holds the survivor table's re-entrant
  writer lock over the whole batch, so a second process's compaction
  cannot delete index files a candidate join is still reading.
- **tiered compaction**: once ``auto_compact_batches`` scope dirs
  accumulate, :meth:`DedupIngest.compact_index` folds the fresh dirs —
  plus each ``batch=compact-*`` rung holding fewer than twice the rows
  being folded — into one new compact dir: a geometric ladder with
  O(log) write amplification and a bounded live dir count.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.merge.upsert import MergePolicy, PointTable
from cruncher_spark.operators.dedup import minhash_signatures, shingle_arrays
from cruncher_spark.streaming.worker import start_foreach_batch


def _scope_dirname(scope: str) -> str:
    """Filesystem-safe form of a ledger scope for ``batch=<scope>`` state
    dirs. Ledger ids are ``<stream_id>:<epoch>`` and Hadoop's Path parser
    treats a colon in a path segment as a URI scheme separator
    (URISyntaxException: Relative path in absolute URI); the dir name is
    only an idempotent-overwrite scope, never parsed back, so a lossy
    substitution is safe. The canonical (colon) scope is still what lands
    in the decisions ``batch_id`` column and the merge ledger."""
    return "".join(c if c.isalnum() or c in "._-" else "-" for c in scope)


class DedupIngest:
    """The shared ingest protocol (see module docstring). Subclasses set
    the class constants below and implement :meth:`_dedup`."""

    #: item id column: survivor key, decisions key, index id column
    ID: str
    #: schema of the parquet files :meth:`start_file_stream` consumes
    INPUT_SCHEMA: str
    #: band index schema; ``batch``/``band_bucket`` are partition dirs
    INDEX_SCHEMA: str
    #: survivor value columns (KEEP policy — fingerprints are immutable)
    KEEP: tuple[str, ...]

    INDEX_BUCKETS = 16
    #: survivors merge as LSM append+compact runs: the bucketed rewrite's
    #: per-batch cost tracked TOTAL survivor-table size once uniform keys
    #: touched every bucket (STREAMSCALE measured x3.39 shuffle growth
    #: over a x4 index growth); appending each batch as an immutable run
    #: is O(batch) forever, and KEEP-policy folding keeps the first
    #: run's row. A batch's run is one file; compaction sizes the runs
    #: it folds from their bytes
    SURVIVOR_MODE = "lsm"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        auto_compact_batches: int | None = 32,
    ):
        self.spark = spark
        self.state = Path(state_dir)
        #: auto-compaction policy: fold the per-batch index dirs once
        #: their count reaches this threshold, from INSIDE process_batch
        #: (the re-entrant writer lock is already held, so the fold is
        #: race-free); None disables. Keeps file listings bounded
        #: (sawtooth) on a long-lived ingest without an external
        #: housekeeping scheduler.
        self.auto_compact_batches = auto_compact_batches
        self.stream_id: str | None = None
        self.survivors = PointTable(
            spark,
            str(self.state / "survivors"),
            key=[self.ID],
            policies={c: MergePolicy.KEEP for c in self.KEEP},
            mode=self.SURVIVOR_MODE,
        )
        self.index_dir = self.state / "band_index"
        self.decisions_dir = self.state / "decisions"

    # -- the modality hook ----------------------------------------------------

    def _dedup(self, batch: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """One micro-batch → (dropped, index_rows, kept).

        ``dropped`` comes from :meth:`_verdicts`; ``index_rows`` are the
        kept items' index rows (partitioned by ``band_bucket``); ``kept``
        are the survivor rows (``ID`` + ``KEEP`` columns)."""
        raise NotImplementedError

    # -- shared pieces of the batch body --------------------------------------

    def _ledger_id(self, batch_id: int) -> str:
        return f"{self.stream_id or 'local'}:{batch_id}"

    def _read_index(self) -> DataFrame | None:
        # explicit schema: inference would fail on a survivor-less first
        # batch (its partition dir holds only _SUCCESS)
        if not self.index_dir.exists() or not any(
            self.index_dir.rglob("*.parquet")
        ):
            return None
        return (
            self.spark.read.schema(self.INDEX_SCHEMA)
            .option("basePath", str(self.index_dir))
            .parquet(str(self.index_dir))
        )

    def _drop_own(self, rows: DataFrame, batch: DataFrame, col: str) -> DataFrame:
        """``rows`` minus those whose ``col`` is one of ``batch``'s
        (unique) ids. Every hook's history side goes through this: on a
        replay the index already holds the batch's survivors, and
        matching them would turn an in-batch verdict into a history
        one."""
        own = batch.select(F.col(self.ID).alias(col))
        return rows.join(F.broadcast(own), col, "left_anti")

    def _verdicts(self, hist: DataFrame | None, peers: DataFrame) -> DataFrame:
        """(ID, dup_of, via) per dropped item, from verified match pairs
        (ID, dup_of) against history and against smaller-id batch peers:
        the min matching id wins within each side, and history wins the
        decision record when both hit.

        Eagerly checkpointed. This severs every downstream plan's lineage
        to the lazy index read — required on a ledger REPLAY, where the
        index write overwrites the very ``batch=<scope>`` dir the
        candidate join's stale file listing still points at
        (FAILED_READ_FILE otherwise) — and computes the candidate join
        once instead of once per consumer (index write, decisions write,
        survivor merge)."""

        def first(pairs: DataFrame, via: str) -> DataFrame:
            return (
                pairs.groupBy(self.ID)
                .agg(F.min("dup_of").alias("dup_of"))
                .withColumn("via", F.lit(via))
            )

        dropped = first(peers, "batch")
        if hist is not None:
            pri = F.when(F.col("via") == "history", 0).otherwise(1)
            dropped = (
                first(hist, "history")
                .unionByName(dropped)
                .groupBy(self.ID)
                .agg(F.min_by(F.struct("dup_of", "via"), pri).alias("d"))
                .select(self.ID, "d.dup_of", "d.via")
            )
        return dropped.localCheckpoint(eager=True)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # The writer lock spans the WHOLE batch body: the candidate join
        # reads index files lazily, and a second process's compact_index
        # rmtree must not delete them mid-plan. Re-entrant, so the
        # survivor merge and any auto-compaction nest without deadlocking.
        with self.survivors.writer_lock():
            dropped, index_rows, kept = self._dedup(batch)
            # outbox ordering: index + decisions land FIRST, the
            # ledger-gated survivor merge commits LAST (module docstring).
            # The reverse order had a permanent landing hole: merge
            # committed, index write crashed, the replay saw the ledger
            # hit and skipped the index forever.
            lid = self._ledger_id(batch_id)
            sdir = _scope_dirname(lid)
            # coalesce(1): the write is micro-batch-sized but inherits the
            # session's shuffle partition count — without the coalesce
            # each batch sprays partitions x INDEX_BUCKETS near-empty
            # files (measured 512/batch at ~7 rows each,
            # tools/stream_scale.py) and the candidate join's file listing
            # grows 30x faster than the data; one task per batch writes
            # one file per touched bucket dir instead
            (
                index_rows.coalesce(1)
                .write.mode("overwrite")
                .partitionBy("band_bucket")
                .parquet(str(self.index_dir / f"batch={sdir}"))
            )
            (
                dropped.withColumn("batch_id", F.lit(lid))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(self.decisions_dir / f"batch={sdir}"))
            )
            self.survivors.merge(kept, batch_id=lid)
            self._maybe_auto_compact()

    def _stream_batch(self, batch: DataFrame, batch_id: int) -> None:
        """The foreachBatch handler for rows of ``INPUT_SCHEMA``."""
        self.process_batch(batch, batch_id)

    # -- stream wiring -------------------------------------------------------

    def start_file_stream(
        self,
        src_dir: str,
        checkpoint_dir: str,
        *,
        max_files_per_trigger: int | None = None,
        available_now: bool = False,
    ):
        """Consume parquet files of ``INPUT_SCHEMA`` rows from ``src_dir``."""
        reader = self.spark.readStream.schema(self.INPUT_SCHEMA).format("parquet")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

        def bind(sid: str):
            self.stream_id = sid
            return self._stream_batch

        return start_foreach_batch(
            reader.load(src_dir),
            checkpoint_dir,
            bind,
            stream_id=self.stream_id,
            available_now=available_now,
        )

    # -- housekeeping --------------------------------------------------------

    def _maybe_auto_compact(self) -> None:
        """Fire compact_index from inside the batch body once the
        per-batch dir count reaches the policy threshold (lock already
        held — see process_batch)."""
        if self.auto_compact_batches is None or not self.index_dir.exists():
            return
        n = sum(
            1
            for d in self.index_dir.iterdir()
            if d.is_dir() and d.name.startswith("batch=")
        )
        if n >= self.auto_compact_batches:
            self.compact_index()

    #: tiered-fold growth factor (the LSM binary-counter invariant —
    #: merge/upsert.py): a compact dir joins a fold while it is smaller
    #: than this multiple of everything newer being folded
    _COMPACT_FACTOR = 2.0

    def compact_index(self) -> int:
        """TIERED fold of the per-batch index directories — the
        streaming small-files remedy (a long-lived ingest otherwise
        accretes a directory per micro-batch and file listings start
        to dominate the candidate join). Returns the number of dirs
        folded, 0 if there was nothing to do.

        Fold selection (the same binary-counter invariant as the
        survivor table's LSM mode): every FRESH per-batch dir folds,
        plus each existing ``batch=compact-`` dir — newest first —
        while it holds fewer than ``_COMPACT_FACTOR`` x the ROWS being
        folded (rows, not bytes: a consolidated dir compresses far
        better than per-batch small files, so a byte comparison kept
        pulling the big rung into every fold — measured 11→20→29 MB
        successive fold costs before the switch). Compact dirs form a
        geometric size ladder: a fold usually costs ~threshold batches
        of data (constant), occasionally cascades into a bigger rung,
        and amortizes to O(log) write amplification instead of an
        all-dirs-into-one fold whose cost grows linearly with the
        index. Live dir count stays <= threshold +
        O(log(index/batch)).

        Concurrency: serializes on the survivor table's re-entrant
        writer lock (merge/upsert.py ``writer_lock``). Every
        ``process_batch`` holds that lock across its WHOLE body —
        candidate join, index/decision writes, survivor merge — so a
        second ingest instance on the same ``state_dir`` can never run
        its candidate join against a file listing this compaction's
        ``rmtree`` is deleting out from under it (FAILED_READ_FILE).
        Within one process the re-entrant lock lets an auto-compaction
        fire from inside ``process_batch`` without deadlocking.
        Crash-safe by idempotence rather than atomicity: a crash after
        the consolidated write but before the old dirs are removed
        leaves duplicate band rows, which only produce duplicate
        CANDIDATES — the per-item ``min`` aggregates absorb them, and
        the next fold's ``dropDuplicates`` removes the redundancy (the
        crash leaves the duplicate rows in the NEWEST compact dir +
        the fresh dirs, and the size rule pulls that compact dir into
        the next fold precisely because it is fresh-fold-sized; pinned
        by test_crash_mid_auto_compaction_converges).
        """
        import shutil
        import uuid

        def _rows(d: Path) -> int:
            import pyarrow.parquet as pq

            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in d.rglob("*.parquet")
            )

        def _seq(d: Path) -> int:
            import re

            m = re.match(r"batch=compact-(\d+)-", d.name)
            return int(m.group(1)) if m else 0

        with self.survivors.writer_lock():
            batches = [
                d
                for d in (
                    self.index_dir.iterdir() if self.index_dir.exists() else []
                )
                if d.is_dir() and d.name.startswith("batch=")
            ]
            compacts = sorted(
                (d for d in batches if d.name.startswith("batch=compact-")),
                key=_seq,
            )
            fold = [d for d in batches if not d.name.startswith("batch=compact-")]
            size = sum(_rows(d) for d in fold)
            while compacts and _rows(compacts[-1]) < self._COMPACT_FACTOR * size:
                d = compacts.pop()
                size += _rows(d)
                fold.append(d)
            if len(fold) <= 1:
                return 0
            if size == 0:
                # >=2 dirs whose partition dirs hold only _SUCCESS
                # (survivor-less / all-dropped batches): no rows to
                # consolidate; just fold the empty dirs away
                for d in fold:
                    shutil.rmtree(d)
                return len(fold)
            next_seq = _seq(compacts[-1]) + 1 if compacts else 0
            target = (
                self.index_dir
                / f"batch=compact-{next_seq:06d}-{uuid.uuid4().hex[:8]}"
            )
            (
                self.spark.read.schema(self.INDEX_SCHEMA)
                .option("basePath", str(self.index_dir))
                .parquet(*[str(d) for d in fold])
                .drop("batch")
                # exact-duplicate rows exist only after a crash between a
                # previous compaction's write and its dir removal; the
                # distinct makes recovery converge instead of carrying
                # the redundancy forward
                .dropDuplicates()
                # one writer task per bucket dir -> ONE coherent file per
                # bucket (the point of compacting; without this the
                # distinct's shuffle fans the fold into partitions x
                # buckets small files and the listing creep returns)
                .repartition(self.INDEX_BUCKETS, F.col("band_bucket"))
                .write.mode("overwrite")
                .partitionBy("band_bucket")
                .parquet(str(target))
            )
            for d in fold:
                shutil.rmtree(d)
            return len(fold)

    # -- state readers -------------------------------------------------------

    def retained(self) -> DataFrame:
        return self.survivors.read()

    def decisions(self) -> DataFrame:
        schema = f"{self.ID} long, dup_of long, via string, batch_id string"
        if not self.decisions_dir.exists():
            # no batch has landed yet
            return self.spark.createDataFrame([], schema)
        # the batch=<scope> dirs are storage layout: partition discovery
        # would append them as a fifth column the empty frame lacks
        return (
            self.spark.read.schema(schema)
            .parquet(str(self.decisions_dir))
            .select(self.ID, "dup_of", "via", "batch_id")
        )


class NearDupIngest(DedupIngest):
    """Streaming MinHash/LSH near-dup filter over ``(doc_id, text)``.

    Signatures are the batch path's ``shingle_arrays`` →
    ``minhash_signatures`` pipeline (identical hash family, so offline
    and online decisions agree). Index rows are one per (doc, band),
    ``band_bucket = pmod(xxhash64(band_key), 16)``, each carrying the
    full signature. A doc matches when it shares an LSH band AND agrees
    on >= ``MIN_AGREE_HASHES`` of the minhashes (pinned by
    tests/test_streaming_neardup.py). A dropped batch peer can still
    absorb its larger neighbors, matching the pair rule rather than
    greedy sequencing, which keeps the in-batch step one distributed
    self-join.
    """

    NUM_HASHES = 8
    BAND_SIZE = 2
    N_BANDS = NUM_HASHES // BAND_SIZE
    #: 0.75 of the minhashes
    MIN_AGREE_HASHES = 6
    SHINGLE_N = 3

    ID = "doc_id"
    INPUT_SCHEMA = "doc_id long, text string"
    KEEP = tuple(f"mh_{i}" for i in range(NUM_HASHES))
    INDEX_SCHEMA = (
        "doc_id long, "
        + "".join(f"mh_{i} long, " for i in range(NUM_HASHES))
        + "band_idx int, band_key string, band_bucket long, batch string"
    )

    def _signatures(self, docs: DataFrame) -> DataFrame:
        sh = shingle_arrays(docs, "doc_id", "text", self.SHINGLE_N)
        return minhash_signatures(sh, "doc_id", num_hashes=self.NUM_HASHES)

    def _bands(self, sigs: DataFrame) -> DataFrame:
        """(doc_id, mh_*, band_idx, band_key, band_bucket) — one row per
        (doc, band), signature denormalized onto every band row."""
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"mh_{b * self.BAND_SIZE + j}")
                            for j in range(self.BAND_SIZE)
                        ],
                    ).alias("band_key"),
                )
                for b in range(self.N_BANDS)
            ]
        )
        return (
            sigs.select("*", F.explode(bands).alias("band"))
            .select("*", "band.band_idx", "band.band_key")
            .drop("band")
            .withColumn(
                "band_bucket",
                F.pmod(F.xxhash64("band_key"), F.lit(self.INDEX_BUCKETS)),
            )
        )

    def _agreement(self, left_prefix: str, right_prefix: str) -> F.Column:
        return sum(
            F.when(
                F.col(f"{left_prefix}mh_{i}") == F.col(f"{right_prefix}mh_{i}"), 1
            ).otherwise(0)
            for i in range(self.NUM_HASHES)
        )

    def _dedup(self, docs: DataFrame):
        # one signature pass: the candidate join, the index write and the
        # survivor merge all read the checkpointed signatures
        sigs = self._signatures(
            docs.select("doc_id", "text").dropDuplicates(["doc_id"])
        ).localCheckpoint(eager=True)
        bands = self._bands(sigs)

        hist = None
        index = self._read_index()
        if index is not None:
            cand = index.select(
                "band_bucket",
                "band_idx",
                "band_key",
                F.col("doc_id").alias("h_id"),
                *[F.col(f"mh_{i}").alias(f"h_mh_{i}") for i in range(self.NUM_HASHES)],
            ).join(F.broadcast(bands), ["band_bucket", "band_idx", "band_key"])
            hist = (
                self._drop_own(cand, sigs, "h_id")
                .where(self._agreement("", "h_") >= self.MIN_AGREE_HASHES)
                .select("doc_id", F.col("h_id").alias("dup_of"))
            )

        def side(p: str) -> DataFrame:
            return bands.select(
                F.col("doc_id").alias(f"id_{p}"),
                "band_idx",
                "band_key",
                *[
                    F.col(f"mh_{i}").alias(f"{p}_mh_{i}")
                    for i in range(self.NUM_HASHES)
                ],
            )

        peers = (
            side("a")
            .join(side("b"), ["band_idx", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(self._agreement("a_", "b_") >= self.MIN_AGREE_HASHES)
            .select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("dup_of"))
        )
        dropped = self._verdicts(hist, peers)
        kept = sigs.join(dropped.select("doc_id"), "doc_id", "left_anti")
        return dropped, self._bands(kept), kept


class EmbeddingDedupIngest(DedupIngest):
    """Streaming near-dup filter over an EMBEDDING stream — the vector
    counterpart of :class:`NearDupIngest` for multimodal/semantic
    pipelines: each micro-batch of ``(vec_id, embedding array<float>)``
    rows is random-hyperplane-LSH bucketed (``n_bands`` independent
    signatures of ``band_planes`` planes — deterministic md5 planes, the
    same family as operators/similarity.py), candidates against the
    retained index are verified by EXACT cosine on the vectors stored
    alongside the bucket rows, and a match is cosine >= ``min_cos``.

    CORPUS-ADAPTIVE BANDING: by default (``n_bands=None,
    band_planes=None``) the ingest derives (p, r) from the RETAINED
    count via the batch family's ``_sdd_params_for`` policy
    (min_cos-aware) and RE-KEYS the band index when the policy steps.
    Construction-pinned bands hold cell count constant FOREVER, so
    expected per-cell population grows ∝ retained count and each
    batch's candidate join against history grows linearly with
    everything ever ingested (quadratic total over the stream's life).
    With cells ∝ corpus, per-batch candidate volume stays ~flat (×r's
    slow policy growth). Mechanics:

    - the CURRENT (p, r) persists in ``state/band_policy.json`` so a
      restarted ingest bands probes consistently with its index;
    - every ``reband_check_every`` batches (the IVF monitor's trigger
      discipline) the retained count re-derives (p, r); on a step the
      retained vectors are re-banded into one consolidated
      ``batch=reband-*`` dir and the stale-keyed dirs are removed —
      the compactor's idempotent-rewrite pattern, under the same
      writer lock;
    - prior DROP DECISIONS are untouched (the decision ledger is
      immutable); only candidate GENERATION changes. A crash inside
      the re-key window degrades one batch's candidate recall (mixed
      keyspaces produce spurious/missing candidates, and exact-cosine
      verification still gates every drop) and converges at the next
      policy check — the compactor's convergence story;
    - passing EXPLICIT ``n_bands``/``band_planes`` pins the banding
      forever (:class:`PerceptualDedupIngest` pins its hamming-complete
      8×7 one-hot layout this way).
    """

    ID = "vec_id"
    INPUT_SCHEMA = "vec_id long, embedding array<float>"
    KEEP = ("embedding",)
    INDEX_SCHEMA = (
        "vec_id long, embedding array<float>, band_idx int,"
        " band_key int, band_bucket long, batch string"
    )

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        dim: int = 64,
        n_bands: int | None = None,
        band_planes: int | None = None,
        min_cos: float = 0.98,
        auto_compact_batches: int | None = 32,
        ivf_monitor=None,
        ivf_check_every: int = 8,
        reband_check_every: int = 8,
    ):
        from cruncher_spark.operators.similarity import _sdd_params_for

        super().__init__(
            spark, state_dir, auto_compact_batches=auto_compact_batches
        )
        self.dim = dim
        self.min_cos = min_cos
        # adaptive iff the banding is NOT construction-pinned: explicit
        # values (either one) pin it, the None default tracks the policy
        self.adaptive_bands = n_bands is None and band_planes is None
        self.reband_check_every = reband_check_every
        if self.adaptive_bands:
            band_planes, n_bands = self._load_policy() or _sdd_params_for(
                0, min_cos
            )
        self.n_bands = n_bands if n_bands is not None else 4
        self.band_planes = band_planes if band_planes is not None else 8
        #: diagnostics for the scale harness (tools/stream_scale.py):
        #: when count_candidates is set, each batch records the history
        #: candidate-join row count — the density signal the adaptive
        #: policy holds flat
        self.count_candidates = False
        self.last_history_candidates: int | None = None
        # optional served-IVF staleness monitor (the drift-based refit
        # trigger): every ivf_check_every batches the monitor measures
        # cell-population drift of the RETAINED corpus against its
        # fit-time baseline and refits the quantizer when it trips.
        # Advisory/in-memory — a replayed batch re-measures, never
        # corrupts state.
        self.ivf_monitor = ivf_monitor
        self.ivf_check_every = ivf_check_every

    # -- adaptive banding policy ----------------------------------------------

    def _policy_path(self) -> Path:
        return self.state / "band_policy.json"

    def _load_policy(self) -> tuple[int, int] | None:
        """(band_planes, n_bands) persisted by a prior run, or None."""
        import json

        try:
            d = json.loads(self._policy_path().read_text())
            return int(d["band_planes"]), int(d["n_bands"])
        except Exception:
            return None

    def _save_policy(self, retained_n: int) -> None:
        import json
        import os

        self.state.mkdir(parents=True, exist_ok=True)
        tmp = self._policy_path().with_suffix(".json.tmp")
        tmp.write_text(
            json.dumps(
                {
                    "band_planes": self.band_planes,
                    "n_bands": self.n_bands,
                    "retained_at_check": retained_n,
                }
            )
        )
        os.replace(tmp, self._policy_path())

    def _maybe_reband(self, batch_id: int) -> None:
        """Re-derive (p, r) from the retained count and re-key the band
        index when the policy steps.

        Runs at the START of every ``reband_check_every``-th batch body
        (lock already held), so the batch that triggers a step is
        banded with the NEW keys against the freshly re-keyed index.
        Also fires when the policy file is missing but an index exists
        — state written by a pinned ingest, whose on-disk keys may come
        from ANY banding and only a re-key makes probe and index
        keyspaces agree. Idempotent: same retained count → same
        (p, r) → no-op, so a ledger replay never re-keys twice."""
        from cruncher_spark.operators.similarity import _sdd_params_for

        if not self.adaptive_bands:
            return
        missing = not self._policy_path().exists()
        if batch_id % self.reband_check_every != 0 and not missing:
            return
        # versions() is [] until the first merge commits — a fresh
        # table has a directory but nothing to read
        n = self.survivors.read().count() if self.survivors.versions() else 0
        p_new, r_new = _sdd_params_for(n, self.min_cos)
        stale_index = missing and self._read_index() is not None
        if (p_new, r_new) == (self.band_planes, self.n_bands) and (
            not stale_index
        ):
            if missing:
                self._save_policy(n)
            return
        self.band_planes, self.n_bands = p_new, r_new
        self._rekey_index()
        self._save_policy(n)

    def _rekey_index(self) -> None:
        """Rewrite the WHOLE band index under the current (p, r): band
        the retained vectors into one consolidated ``batch=reband-*``
        dir, then remove every stale-keyed dir — the compactor's
        idempotent-rewrite pattern (the write reads the SURVIVOR table,
        never the index, so the removal cannot race the plan; a crash
        between write and removal leaves mixed keyspaces that only
        perturb candidate recall until the next policy check, never a
        wrong drop — exact cosine gates every decision)."""
        import shutil
        import uuid

        if self._read_index() is None:
            return
        retained = self.survivors.read().select("vec_id", "embedding")
        old = [
            d
            for d in self.index_dir.iterdir()
            if d.is_dir() and d.name.startswith("batch=")
        ]
        target = self.index_dir / f"batch=reband-{uuid.uuid4().hex[:8]}"
        (
            self._bands(retained)
            .repartition(self.INDEX_BUCKETS, F.col("band_bucket"))
            .write.mode("overwrite")
            .partitionBy("band_bucket")
            .parquet(str(target))
        )
        for d in old:
            shutil.rmtree(d)

    # -- banding -------------------------------------------------------------

    def _explode_bands(self, vecs: DataFrame) -> DataFrame:
        """(vec_id, embedding, band_idx, band_key) — the random-
        hyperplane family via the shared-projections single-tree form
        (same as the batch operators): ONE 2-D plane-matrix literal and
        one pass compute all p·r projections, and each band's key reads
        its slice — bit-identical arithmetic to a per-band fold loop
        (same zip_with cast-double multiply, same 0.0-seeded left fold,
        same >0 sign rule), but the plan is one expression tree instead
        of p·r per-element-literal trees (the adaptive policy can push
        p·r to dozens of planes, where per-element F.lit construction
        alone took seconds per batch). :class:`PerceptualDedupIngest`
        overrides with its one-hot chunk keys."""
        from cruncher_spark.operators.similarity import (
            _cell_from_projs,
            _hyperplane_signs,
            _sign_pattern_projs,
        )

        planes = _hyperplane_signs(self.dim, self.n_bands * self.band_planes)
        with_pj = vecs.select(
            "vec_id",
            "embedding",
            _sign_pattern_projs("embedding", planes).alias("_pj"),
        )
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    _cell_from_projs(
                        F.col("_pj"),
                        b * self.band_planes,
                        self.band_planes,
                    ).alias("band_key"),
                )
                for b in range(self.n_bands)
            ]
        )
        return with_pj.select(
            "vec_id", "embedding", F.explode(bands).alias("band")
        ).select("vec_id", "embedding", "band.band_idx", "band.band_key")

    def _bands(self, vecs: DataFrame) -> DataFrame:
        return self._explode_bands(vecs).withColumn(
            "band_bucket",
            F.pmod(F.col("band_key"), F.lit(self.INDEX_BUCKETS)),
        )

    # -- batch body ----------------------------------------------------------

    def process_batch(self, vecs: DataFrame, batch_id: int) -> None:
        # the re-entrant lock covers the policy check and the monitor
        # too; the shared body nests inside it
        with self.survivors.writer_lock():
            # policy check BEFORE banding the batch: a step re-keys the
            # index first, so this batch probes with the new keys
            self._maybe_reband(batch_id)
            super().process_batch(vecs, batch_id)
            if (
                self.ivf_monitor is not None
                and batch_id % self.ivf_check_every == 0
            ):
                retained = self.retained().select("vec_id", "embedding")
                # self-initialize: a monitor attached without a fit-time
                # baseline takes the first checked batch AS the baseline
                # (drift 0 by construction) instead of crashing the
                # ingest inside maybe_refit's drift()
                if self.ivf_monitor.baseline is None:
                    self.ivf_monitor.set_baseline(retained)
                self.ivf_monitor.maybe_refit(retained, tag=batch_id)

    def _dedup(self, vecs: DataFrame):
        from cruncher_spark.operators.similarity import cosine

        batch = vecs.select("vec_id", "embedding").dropDuplicates(["vec_id"])
        bands = self._bands(batch)

        hist = None
        index = self._read_index()
        if index is not None:
            cand = index.select(
                "band_bucket",
                "band_idx",
                "band_key",
                F.col("vec_id").alias("h_id"),
                F.col("embedding").alias("h_emb"),
            ).join(F.broadcast(bands), ["band_bucket", "band_idx", "band_key"])
            # density diagnostic for the scale harness — one extra
            # count job, opt-in only
            if self.count_candidates:
                self.last_history_candidates = cand.count()
            hist = (
                self._drop_own(cand, batch, "h_id")
                .where(cosine("embedding", "h_emb") >= self.min_cos)
                .select("vec_id", F.col("h_id").alias("dup_of"))
            )
        elif self.count_candidates:
            self.last_history_candidates = 0

        def side(p: str) -> DataFrame:
            return bands.select(
                F.col("vec_id").alias(f"id_{p}"),
                F.col("embedding").alias(f"emb_{p}"),
                "band_idx",
                "band_key",
            )

        peers = (
            side("a")
            .join(side("b"), ["band_idx", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(cosine("emb_a", "emb_b") >= self.min_cos)
            .select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("dup_of"))
        )
        dropped = self._verdicts(hist, peers)
        kept = batch.join(dropped.select("vec_id"), "vec_id", "left_anti")
        return dropped, self._bands(kept), kept


class PerceptualDedupIngest(EmbeddingDedupIngest):
    """Streaming perceptual IMAGE dedup: a continuous dHash filter.

    Each micro-batch of ``(media_id, payload)`` PNG rows is
    fingerprinted with the integer-exact 56-bit dHash
    (`operators/imagehash.py`) and dedup then runs on the hash's +-1
    BIT VECTOR through the inherited embedding machinery — a change of
    representation, not a re-implementation:

    - cosine of two +-1 vectors is ``(56 - 2*hamming) / 56``, so the
      inherited exact-cosine verification with ``min_cos = 0.74`` is
      PRECISELY ``hamming <= 7`` (h=7 -> 0.75, h=8 -> ~0.714; 0.74
      sits between the two attainable values, immune to the sqrt
      rounding in the cosine's norm product);
    - the band keys override the random-hyperplane family with ONE-HOT
      planes selecting 7 consecutive bits per band — the same 8x7
      chunk banding as the batch ``image_dhash_dedup`` gate, so recall
      is pigeonhole-COMPLETE through hamming 7 (random hyperplanes
      would only be probabilistically complete).
    """

    #: 8 bands x 7 bits, hamming bound = n_bands - 1 (pigeonhole)
    _BITS = 56
    INPUT_SCHEMA = "media_id long, payload binary"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        auto_compact_batches: int | None = 32,
    ):
        super().__init__(
            spark,
            state_dir,
            dim=self._BITS,
            n_bands=8,
            band_planes=7,
            min_cos=0.74,
            auto_compact_batches=auto_compact_batches,
        )

    def _band_key(self, vec: F.Column, band: int) -> F.Column:
        # one-hot "planes": key bit p is just bit (band*7 + p) of the
        # hash — chunk banding expressed in the inherited band shape
        key = F.lit(0)
        for p in range(self.band_planes):
            j = band * self.band_planes + p
            key = key + F.when(
                F.element_at(vec, j + 1) > 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        return key

    def _explode_bands(self, vecs: DataFrame) -> DataFrame:
        # no projections to share: each one-hot key reads its 7 bits
        # directly, so the generic per-band loop IS the cheap form here
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    self._band_key(F.col("embedding"), b).alias("band_key"),
                )
                for b in range(self.n_bands)
            ]
        )
        return vecs.select(
            "vec_id", "embedding", F.explode(bands).alias("band")
        ).select("vec_id", "embedding", "band.band_idx", "band.band_key")

    def _hashes(
        self, media: DataFrame, id_col: str, payload_col: str
    ) -> DataFrame:
        """(media_id, dhash) — the modality hook subclasses override."""
        from cruncher_spark.operators.imagehash import dhash_images

        return dhash_images(media, id_col, payload_col)

    def fingerprint(
        self,
        media: DataFrame,
        id_col: str = "media_id",
        payload_col: str = "payload",
    ) -> DataFrame:
        """(vec_id, embedding): hash each payload, expand to +-1 bits."""
        hashes = self._hashes(media, id_col, payload_col)
        bits = F.array(
            *[
                F.when(
                    F.shiftright(F.col("dhash"), j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1.0),
                )
                .otherwise(F.lit(-1.0))
                .cast("float")
                for j in range(self._BITS)
            ]
        )
        return hashes.select(
            F.col("media_id").alias("vec_id"), bits.alias("embedding")
        )

    def process_image_batch(self, media: DataFrame, batch_id: int) -> None:
        self.process_batch(self.fingerprint(media), batch_id)

    _stream_batch = process_image_batch


class VideoDedupIngest(DedupIngest):
    """Streaming VIDEO dedup: frame-level containment filtering (the
    reference's streaming posture, worker.js:128-149, says new
    modalities land in the online path too).

    Video dedup is NOT a single-fingerprint problem: a re-encode, clip,
    or concatenation shares exact FRAME hashes with its source (the
    batch ``video_frame_dedup`` gate's containment skeleton,
    `operators/imagehash.py video_overlap_report`), so the unit of
    state is the (video, frame-hash) pair:

    - **fingerprints**: every micro-batch AVI is frame-hashed with the
      batch path's `video_frame_hashes` (same dHash grid as stills),
      collapsed to DISTINCT (media_id, fhash);
    - **index**: retained (media_id, fhash) rows partitioned by
      ``band_bucket = pmod(fhash, 16)``;
    - **df-cap, before ANY pair expansion**: history matching never
      builds video pairs at all — matching index rows aggregate to
      per-hash (count, min retained id) FIRST, a frame hash shared by
      more than ``df_cap`` videos (index + batch combined, the viral
      logo/intro frame) is discarded as boilerplate exactly like the
      batch gate, and only then do per-hash representatives join back
      to batch videos. The in-batch pair join runs on the capped hash
      set, bounding it at df_cap² per hash. Excluding the batch's own
      videos from the history side also makes the df-cap count
      replay-stable;
    - **match rule** (pinned by tests): a video matches when it shares
      an un-capped frame hash with a retained video or a smaller-id
      batch peer — the batch gate's any-shared-frame signal. Videos
      whose frames decode empty pass through unindexed. Passing
      ``tau=(num, den)`` switches to FRACTIONAL containment: a match
      needs >= tau of the item's OWN distinct hashes shared — clip
      detection proper, and the streaming form of the batch
      ``dedup_containment`` gate (integer-compared rational, never a
      float ceil). History sharing is then counted against each hash's
      min-id retained representative: the per-hash aggregation that
      keeps the path pair-free cannot attribute a hash to every
      retained video holding it. Retained items are mutually
      non-contained BY the filter itself, so a contained item's hashes
      rarely split across representatives (in-batch counts are
      per-pair and exact).
    """

    ID = "media_id"
    INPUT_SCHEMA = "media_id long, payload binary"
    KEEP = ("n_frames", "n_distinct_hashes")
    INDEX_SCHEMA = "media_id long, fhash long, band_bucket long, batch string"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        df_cap: int = 1000,
        tau: tuple[int, int] | None = None,
        auto_compact_batches: int | None = 32,
    ):
        super().__init__(
            spark, state_dir, auto_compact_batches=auto_compact_batches
        )
        self.df_cap = df_cap
        #: optional FRACTIONAL threshold (num, den): drop when the item
        #: shares >= tau of ITS OWN distinct hashes with one retained /
        #: smaller-id item — asymmetric containment (dedup_containment's
        #: semantics made streaming; rational, integer-compared)
        self.tau = tau

    def _frame_rows(self, media: DataFrame) -> DataFrame:
        """(media_id, fhash, …) per frame — the modality hook."""
        from cruncher_spark.operators.imagehash import video_frame_hashes

        return video_frame_hashes(media, "media_id", "payload")

    def _dedup(self, media: DataFrame):
        media = media.select("media_id", "payload").dropDuplicates(
            ["media_id"]
        )
        # ONE decode pass: the frame rows are micro-batch-sized, every
        # consumer below (stats, distinct working set, index write)
        # reads the checkpointed rows instead of re-decoding the AVIs
        frames = self._frame_rows(media).localCheckpoint(eager=True)
        # per-video stats ride to the survivor table; vf is the distinct
        # (video, hash) working set
        stats = frames.groupBy("media_id").agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("fhash").alias("n_distinct_hashes"),
        )
        vf = (
            frames.select("media_id", "fhash")
            .distinct()
            .withColumn(
                "band_bucket",
                F.pmod(F.col("fhash"), F.lit(self.INDEX_BUCKETS)),
            )
        )
        batch_ids = vf.select("media_id").distinct()

        # per-hash batch frequency (for the combined df-cap)
        bstat = vf.groupBy("band_bucket", "fhash").agg(
            F.count(F.lit(1)).alias("nv_b")
        )

        index = self._read_index()
        if index is not None:
            # index rows whose hash appears in the batch: broadcast the
            # batch hash set (join includes the partition column ->
            # pruning), minus the batch's own videos
            match = self._drop_own(
                index.join(
                    F.broadcast(bstat.select("band_bucket", "fhash")),
                    ["band_bucket", "fhash"],
                ),
                batch_ids,
                "media_id",
            )
            # aggregate BEFORE any pairing: per-hash retained count +
            # min retained id — a hot hash never expands to pairs
            hstat = match.groupBy("band_bucket", "fhash").agg(
                F.count(F.lit(1)).alias("nv_h"),
                F.min("media_id").alias("h_rep"),
            )
            hashes = bstat.join(hstat, ["band_bucket", "fhash"], "left")
        else:
            hashes = bstat.select(
                "band_bucket",
                "fhash",
                "nv_b",
                F.lit(None).cast("long").alias("nv_h"),
                F.lit(None).cast("long").alias("h_rep"),
            )
        ok = hashes.where(
            F.col("nv_b") + F.coalesce(F.col("nv_h"), F.lit(0))
            <= F.lit(self.df_cap)
        )

        # fractional tau needs each batch item's own distinct-hash count
        # (the containment denominator) — micro-batch-sized, broadcast
        nd = vf.groupBy("media_id").agg(
            F.count(F.lit(1)).alias("n_distinct")
        )

        def passes(counts, id_col):
            if self.tau is None:
                return counts
            tn, td = self.tau
            return counts.join(
                F.broadcast(nd.withColumnRenamed("media_id", id_col)),
                id_col,
            ).where(
                F.col("n_shared") * F.lit(td)
                >= F.col("n_distinct") * F.lit(tn)
            )

        hist = passes(
            vf.join(
                ok.where(F.col("h_rep").isNotNull()).select(
                    "band_bucket", "fhash", "h_rep"
                ),
                ["band_bucket", "fhash"],
            )
            .groupBy("media_id", "h_rep")
            .agg(F.count(F.lit(1)).alias("n_shared")),
            "media_id",
        ).select("media_id", F.col("h_rep").alias("dup_of"))

        okb = vf.join(
            ok.select("band_bucket", "fhash"), ["band_bucket", "fhash"]
        )
        a = okb.select(F.col("media_id").alias("id_a"), "fhash")
        b = okb.select(F.col("media_id").alias("id_b"), "fhash")
        peers = passes(
            a.join(b, "fhash")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_b", "id_a")
            .agg(F.count(F.lit(1)).alias("n_shared")),
            "id_b",
        ).select(F.col("id_b").alias("media_id"), F.col("id_a").alias("dup_of"))

        dropped = self._verdicts(hist, peers)
        kept_ids = batch_ids.join(
            dropped.select("media_id"), "media_id", "left_anti"
        )
        return (
            dropped,
            vf.join(kept_ids, "media_id"),
            stats.join(kept_ids, "media_id"),
        )


class AudioDedupIngest(PerceptualDedupIngest):
    """Streaming perceptual AUDIO dedup: the loudness-profile
    fingerprint (`operators/imagehash.py audio_energy_bits`) through
    the same +-1 bit-vector machinery as the image filter — only the
    modality hook differs; banding, hamming<->cosine verification,
    ledger, and crash-replay semantics are shared (and shared tests:
    the image suite pins them; the audio suite pins only the hook)."""

    def _hashes(
        self, media: DataFrame, id_col: str, payload_col: str
    ) -> DataFrame:
        from cruncher_spark.operators.imagehash import audio_fingerprints

        return audio_fingerprints(media, id_col, payload_col)


class TextContainmentIngest(VideoDedupIngest):
    """Streaming asymmetric-CONTAINMENT filter over a document stream —
    the online form of the batch ``dedup_containment`` gate
    (`operators/dedup.py containment_pairs`), riding the
    :class:`VideoDedupIngest` machinery: a document is a SET of shingle
    hashes exactly as a video is a set of frame hashes, so only the
    fingerprint hook differs.

    Retention rule: a doc whose distinct shingles are >= 9/10
    contained in one retained doc — or one smaller-id batch peer — is
    DROPPED with a (dup_of, via) decision; quote/clip ingestion dedup
    that MinHash-jaccard ingest structurally misses (a paragraph quoted
    in a 100x longer retained doc has J ~ 0.01 at containment 1.0, so
    :class:`NearDupIngest` keeps it).

    Input streams carry ``(doc_id long, text string)``
    (:meth:`process_doc_batch`); :meth:`process_batch` takes
    ``(media_id, payload)`` rows. Docs too short to shingle pass through
    unindexed, as in every text path.
    """

    INPUT_SCHEMA = "doc_id long, text string"
    SHINGLE_N = 3

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        auto_compact_batches: int | None = 32,
    ):
        super().__init__(
            spark,
            state_dir,
            tau=(9, 10),
            auto_compact_batches=auto_compact_batches,
        )

    def _frame_rows(self, media: DataFrame) -> DataFrame:
        """(media_id, fhash): one row per distinct shingle hash — the
        modality hook (shingle hash plays the frame-hash role)."""
        from cruncher_spark.functions.text import portable_hash64
        from cruncher_spark.operators.dedup import shingle_table

        sh = shingle_table(media, "media_id", "payload", self.SHINGLE_N)
        return sh.select(
            "media_id", portable_hash64("shingle").alias("fhash")
        )

    def process_doc_batch(self, docs: DataFrame, batch_id: int) -> None:
        """(doc_id, text) convenience wrapper over process_batch."""
        self.process_batch(
            docs.select(
                F.col("doc_id").alias("media_id"),
                F.col("text").alias("payload"),
            ),
            batch_id,
        )

    _stream_batch = process_doc_batch
