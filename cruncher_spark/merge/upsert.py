"""Upsert-merge layer: the Spark equivalent of the reference's sinks.

The reference externalizes all aggregate state into its point tables via
``INSERT … ON DUPLICATE KEY UPDATE col = col + VALUES(col)``
(crunch_global.sql:1,68-87) — the table *is* the accumulator. Per-column
merge policies seen in the reference:

- ``add``        — ``col = col + VALUES(col)`` (A11; NULL-propagating:
                   MySQL ``NULL + x = NULL``)
- ``max``        — ``CASE WHEN VALUES(c) > c THEN VALUES(c) ELSE c END``
                   (A12, crunch_player.sql:49; NULL comparison keeps old)
- ``overwrite``  — ``UPDATE … SET c = src.c`` (S4, crunch_team.sql:41-42)
- ``keep``       — column absent from the ON DUPLICATE list — first
                   insert wins (updated_at in crunch_global.sql:68-87;
                   wins in crunch_phases.sql:95-156)

Cost model: state is laid out in hash buckets of the merge key
(``pt_bucket=N`` parquet partitions). A merge reads and rewrites the
buckets the delta's keys hash into; every untouched bucket is
hard-linked into the new state version (zero data movement,
byte-identical files). The rewrite is one fold and one exchange: the
stored rows of those buckets and the delta, tagged as runs 0 and 1, are
unioned and hash-partitioned over the buckets, and each write task
sorts its rows by key and run (the sort the write needs anyway), pairs
a key's delta row with its stored row through a window ``lag``,
applies the per-column policies to the pair and writes its bucket's
file. A one-bucket table has nothing to route, so it skips the
exchange: the rows are gathered into the one write task, and a merge
is one Spark job, the write, whose last stage finishes the delta and
scans, folds and writes the stored bucket. On a production deployment
the same role is played by Delta/Iceberg ``MERGE INTO`` with data
skipping on the merge key; this module gives the same semantics over
plain parquet.

The bucket count is sized to the state, and no caller sets it: a new
table starts at one bucket and a merge doubles the count while the
stored bytes exceed ``spark.sql.files.openCostInBytes`` (4 MiB) per
bucket (:meth:`PointTable._grow_layout`). A 1000-id crunch batch carries
~1e4 keys and lands in every bucket, so for the worker's batches the count
decides how many files and write tasks a merge pays for, not how many
bytes it rewrites: state under 4 MiB is one file, larger state is
written by one task per bucket, in parallel. A narrow delta (a
``POST /crunch`` of a few ids) rewrites only the buckets its keys touch,
at most ~4 MiB per key; under 4 MiB of state that is all of it.
Against the old fixed 32 buckets (MIGRATION.md, "Point-table layout"),
measured on four cores: worker batches merge faster up to ~15 MB of
state and ~25% slower at ~140 MB; one-id deltas slower at ~15 MB.
:meth:`PointTable.rebucket` is the one explicit re-layout.

When a delta's keys are UNIFORM over the key space (streaming ingest
survivors), every bucket is touched and the bucketed rewrite degrades to
O(state) per batch — for that shape ``mode="lsm"`` appends each delta as
an immutable run instead (O(delta) per batch forever) and folds runs at
read/compaction time with policy aggregates that reproduce the pairwise
merge semantics exactly. LSM runs are sized per write from the same
rule: an append is one bucket, a fold takes the count its two runs'
bytes need; see the "LSM (append + compact) merge mode" section below.

Commit protocol — every writer (bucketed merge, LSM run append, LSM
run fold and ``rebucket``'s whole-state rewrite) goes through one
method, :meth:`PointTable._commit_version`. It builds a complete new
version directory ``v_NNNNNN/`` — the written frame, hard links to the
kept bucket/run dirs of the previous version, the ``ledger/`` of applied
batch ids and ``meta.json`` — then atomically renames ``CURRENT.tmp``
over the ``CURRENT`` pointer file. That rename is the lone commit point
for data + ledger together: a crash anywhere before it leaves the
previous version fully intact (the orphan dir is removed by the next
commit), and there is no window where a batch is applied but
unrecorded. Versions older than ``retain_versions`` are garbage-
collected right after the flip.

Exactly-once: the reference ACKs after commit and therefore double-counts
replayed batches (worker.js:167-182, at-least-once). Here every applied
``batch_id`` is recorded in the ledger committed by the same pointer
flip, and the ledger check runs under the writer lock, so replays are
idempotent (T4's deliberate upgrade; the reference's at-least-once
behavior is available by passing ``batch_id=None``).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Mapping, Sequence
from enum import Enum
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# NB: must not start with "_" or "." — Hadoop file listing hides such paths,
# which would make the partition dirs invisible to subsequent reads.
_BUCKET_COL = "pt_bucket"

#: the exact type double ADD columns accumulate through
_EXACT = "decimal(28,6)"


def _q(name: str) -> str:
    """``name`` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


class MergePolicy(str, Enum):
    #: MySQL-faithful addition (crunch_global.sql:69): NULL + x = NULL
    ADD = "add"
    #: SQL-SUM merge semantics: a NULL side is the identity, NULL only
    #: when both sides are NULL — what partial-aggregate folding needs
    ADD_NULLSAFE = "add_nullsafe"
    #: MySQL-faithful CASE form (crunch_player.sql:49): NULL on either
    #: side keeps the OLD value — reference parity, not a true maximum
    MAX = "max"
    #: null-aware extremes for incremental view maintenance: a NULL
    #: partial (all-NULL batch slice) never shadows a real value
    LEAST = "least"
    GREATEST = "greatest"
    OVERWRITE = "overwrite"
    #: column absent from the ON DUPLICATE list — first insert wins
    #: (updated_at in crunch_global.sql:68-87; wins in crunch_phases.sql)
    KEEP = "keep"


class PointTable:
    """A persistent upsert-merged accumulator table over parquet.

    ``key`` is the grouping-key tuple (merge identity — the reference's
    PRIMARY KEY on the point table; like a PRIMARY KEY, key columns are
    contractually non-NULL — NULL keys are outside the contract, and a
    merge folds them as one key); ``policies`` maps measure column →
    MergePolicy, defaulting to ADD (the dominant reference policy).
    The layout has no setting, like a MySQL table's storage: a new table
    starts at one hash bucket and bucketed merges double the count as the
    state grows (:meth:`_grow_layout`). An existing table's persisted
    count always wins over the handle's, and only a merge that rewrites
    every bucket (a growth step, or :meth:`rebucket`) changes the
    key→bucket mapping.
    """

    #: LSM size-tiered compaction: fold the newest two runs while the
    #: older has < LSM_FOLD_FACTOR x the newer's rows; LSM_MAX_RUNS is a hard
    #: ceiling for pathological size distributions
    LSM_FOLD_FACTOR = 2.0
    LSM_MAX_RUNS = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: Sequence[str],
        policies: Mapping[str, MergePolicy] | None = None,
        retain_versions: int = 1,
        mode: str = "bucketed",
    ):
        self.spark = spark
        self.path = Path(path)
        self.key = list(key)
        self.policies = dict(policies or {})
        #: the layout's hash-bucket count (the persisted one once stored)
        self.num_buckets = 1
        if mode not in ("bucketed", "lsm"):
            raise ValueError(f"unknown merge mode: {mode!r}")
        self._check_lsm(mode)
        #: merge layout (r7 VERDICT #1 — the survivor-merge growth fix).
        #: "bucketed": every merge rewrites the hash buckets the delta's
        #: keys land in — read-optimal (state is always key-unique on
        #: disk) but per-batch cost is O(touched_buckets x bucket_size),
        #: which tracks TOTAL state size once a delta's keys spray all
        #: buckets (uniform keys do, measured x3.39 shuffle growth over
        #: a x4 index growth in STREAMSCALE r7). "lsm": every merge
        #: APPENDS the delta as an immutable sorted-run dir — O(delta)
        #: per batch regardless of state size — and reads fold the runs
        #: through per-column policy aggregates; a size-tiered
        #: compaction (fold the newest two adjacent runs while the
        #: older is < ``LSM_FOLD_FACTOR`` x the newer — the binary-
        #: counter invariant) keeps run counts logarithmic with O(log)
        #: amortized write amplification. The same trade every LSM
        #: store makes (RocksDB/Cassandra); the reference's MySQL
        #: B-tree upsert is the bucketed analog. An existing table's
        #: persisted mode always wins, like num_buckets.
        self.mode = mode
        #: how many committed versions survive GC (>=1). Retention is
        #: nearly free: untouched buckets are hard links, so N retained
        #: versions share file storage and only rewritten buckets differ —
        #: the same trick that makes Delta/Iceberg time travel affordable.
        self.retain_versions = max(1, retain_versions)
        #: writer_lock re-entrancy state, PER THREAD (see :meth:`writer_lock`)
        import threading

        self._lock_state = threading.local()

    # -- writer serialization ------------------------------------------------

    def writer_lock(self):
        """RE-ENTRANT advisory writer lock (``WRITER.lock`` flock).

        flock serializes across PROCESSES, but a second ``flock`` on a
        second fd of the same open file description DEADLOCKS the same
        thread against itself — so a caller that wants to hold the
        writer lock around a larger critical section (e.g. a streaming
        ingest's whole ``process_batch``, whose candidate join reads
        index state a concurrent ``compact_index``'s rmtree could
        delete, ADVICE r7) could not then call :meth:`merge`, which
        takes the lock too. This context manager keeps a per-THREAD
        depth counter: the outermost ``with`` acquires the flock on a
        thread-private fd, nested entries are no-ops, and release
        happens when the outermost exits. Two threads sharing one
        instance each open their own fd, so flock still serializes
        them (per-open-file-description semantics) — the pre-r8
        two-writer race test holds unchanged.
        """
        from contextlib import contextmanager

        @contextmanager
        def _ctx():
            import fcntl

            st = self._lock_state
            if getattr(st, "depth", 0) == 0:
                self.path.mkdir(parents=True, exist_ok=True)
                st.lockf = open(self.path / "WRITER.lock", "w")
                fcntl.flock(st.lockf, fcntl.LOCK_EX)
                st.depth = 0
            st.depth += 1
            try:
                yield self
            finally:
                st.depth -= 1
                if st.depth == 0:
                    st.lockf.close()
                    st.lockf = None

        return _ctx()

    # -- versioned state access ---------------------------------------------

    @property
    def _pointer(self) -> Path:
        return self.path / "CURRENT"

    def _current_version(self) -> Path | None:
        if not self._pointer.exists():
            return None
        name = self._pointer.read_text().strip()
        vdir = self.path / name
        return vdir if vdir.exists() else None

    def exists(self) -> bool:
        return self._current_version() is not None

    def versions(self) -> list[int]:
        """Committed, readable version numbers (ascending). Only versions
        at or before CURRENT count — a later orphan dir from a crashed
        attempt is not committed state."""
        cur = self._current_version()
        if cur is None:
            return []
        cur_n = int(cur.name.split("_")[1])
        return sorted(
            int(v.name.split("_")[1])
            for v in self.path.glob("v_*")
            if int(v.name.split("_")[1]) <= cur_n
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Current state, or a retained historical version (time travel).

        ``version`` must be in :meth:`versions` — versions older than the
        retention window are garbage-collected at commit time.

        LAZINESS CAVEAT: the returned DataFrame lists this version's
        files on demand. A plan that will be evaluated AFTER a later
        :meth:`merge` on the same table (e.g. a frontier anti-join fed
        to a downstream sink after the frontier itself is updated) can
        find those files garbage-collected — LSM compaction and bucket
        rewrites retire old versions at commit (FAILED_READ_FILE).
        Either evaluate/`localCheckpoint()` such a plan before the next
        merge (what the ingest filters do internally), or construct the
        table with ``retain_versions >= 2`` so the read's pinned version
        survives one subsequent commit.
        """
        if version is None:
            vdir = self._current_version()
            if vdir is None:
                raise FileNotFoundError(f"point table not initialized: {self.path}")
        elif version in self.versions():
            vdir = self.path / f"v_{version:06d}"
        else:
            raise FileNotFoundError(
                f"version {version} not retained (have {self.versions()})"
            )
        data = vdir / "data"
        if not any(data.rglob("*.parquet")):
            # no rows stored (only empty deltas, e.g. zero-survivor
            # batches, so far): no parquet to infer from — rebuild the
            # empty frame from the schema the version's commit recorded
            # in meta.json
            schema = self._recorded_schema(vdir)
            if schema is not None:
                return self.spark.createDataFrame([], schema)
        if self._meta(vdir).get("mode") != "lsm":
            return self.spark.read.parquet(str(data)).drop(_BUCKET_COL)
        df = self.spark.read.option("basePath", str(data)).parquet(str(data))
        runs = [d for d in self._run_dirs(vdir) if any(d.rglob("*.parquet"))]
        if len(runs) == 1:
            # a single run is key-unique by construction — no fold needed
            return df.drop("run", _BUCKET_COL)
        return self._fold_runs(df)

    def applied_batches(self) -> set[str]:
        """Ledger reads/writes are DRIVER-side pyarrow, not Spark jobs: the
        ledger is driver-local metadata (a set of batch-id strings), and a
        Spark parquet write in local mode costs ~100 ms per configured
        core of fixed job overhead (measured 3.5 s/write at local[32]) —
        4 orders of magnitude over pyarrow for the same file. The format
        stays plain parquet, so either side can read the other's files."""
        cur = self._current_version()
        if cur is None or not (cur / "ledger").exists():
            return set()
        import pyarrow.parquet as pq

        files = sorted(Path(cur / "ledger").glob("*.parquet"))
        out: set[str] = set()
        for f_ in files:
            out |= set(pq.read_table(f_, columns=["batch_id"])["batch_id"].to_pylist())
        return out

    def _meta(self, cur: Path) -> dict:
        p = cur / "meta.json"
        if p.exists():
            return json.loads(p.read_text())
        return {"num_buckets": self.num_buckets, "mode": self.mode}

    def _recorded_schema(self, cur: Path):
        """The row schema ``cur``'s commit recorded in meta.json, or None
        for a version written before meta.json carried one."""
        schema = self._meta(cur).get("schema")
        if not schema:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(schema))

    # -- merge --------------------------------------------------------------

    def _bucket_expr(self) -> Column:
        # Murmur3 of the full key tuple; stable across sessions, null-safe.
        return F.pmod(F.hash(*[F.col(k) for k in self.key]), F.lit(self.num_buckets))

    def merge(self, delta: DataFrame, batch_id: str | None = None) -> bool:
        """Fold one delta (key-unique rows) into the table.

        Returns False (no-op) if ``batch_id`` was already applied —
        idempotent replay. With ``batch_id=None`` replays double-count,
        which is the reference's at-least-once behavior.

        Cost: reads/rewrites only the hash buckets containing the delta's
        keys; all other buckets are hard-linked into the new version. A
        one-bucket table, or a merge that grows the layout, rewrites every
        bucket without first asking which ones the delta touches. A
        caller that knows on the driver that the delta is empty (an empty
        id list) records the batch with :meth:`record_batch` instead,
        which rewrites nothing.

        Concurrency: merges SERIALIZE on an advisory flock held from the
        ledger read to the pointer flip. Without it, two same-process or
        cross-process writers (two misconfigured workers on one view)
        would both build v_{N+1} from v_N and the last flip would
        silently discard the other's delta; with it the second writer
        blocks, then merges on top of the first's committed version —
        and its ledger check happens INSIDE the lock, so a duplicate
        batch_id racing itself still applies exactly once. Readers never
        take the lock (versions are immutable; the pointer flip is
        atomic). The lock is re-entrant per instance (:meth:`writer_lock`),
        so a caller already holding it for a larger critical section can
        merge without deadlocking.
        """
        with self.writer_lock():
            # the ledger is read once, under the lock, and handed to the
            # commit: None carries the current one forward unchanged
            ledger = None
            if batch_id is not None:
                applied = self.applied_batches()
                if batch_id in applied:
                    return False
                ledger = applied | {batch_id}
            cur = self._adopt_layout()

            if self.mode == "lsm":
                # append-only: the delta is consumed exactly once (the
                # run write) — no bucket-discovery job, no persist
                self._append_run(cur, delta, ledger)
                return True

            grown = self._grow_layout(cur)
            # bucket discovery only pays when the delta can miss a bucket:
            # one bucket, or a layout that grows, rewrites all of them.
            # Discovery and the merge write both read the delta, so it is
            # persisted and the upstream plan runs once per batch.
            discover = not grown and self.num_buckets > 1
            if discover:
                delta = delta.persist()
            try:
                self._merge_buckets(cur, delta, ledger, discover)
            finally:
                if discover:
                    delta.unpersist()
            return True

    def record_batch(self, batch_id: str) -> bool:
        """Commit ``batch_id`` to the ledger without rows: the merge of a
        delta the caller already knows is empty (a worker batch whose ids
        were all poisoned or sampled out). Every stored bucket or run is
        hard-linked forward, so no data is read or written and no Spark
        job runs. Returns False if the id was already applied. The table
        must exist: a fresh table takes its schema from a delta, so merge
        the empty delta instead."""
        with self.writer_lock():
            applied = self.applied_batches()
            if batch_id in applied:
                return False
            cur = self._adopt_layout()
            if cur is None:
                raise FileNotFoundError(f"point table not initialized: {self.path}")
            stored = [d.name for d in (cur / "data").iterdir() if d.is_dir()]
            self._commit_version(
                cur, None, keep=stored, ledger=applied | {batch_id}
            )
            return True

    def _adopt_layout(self) -> Path | None:
        """The current version, after taking its persisted bucket count
        and mode over the handle's (None: the table is fresh)."""
        cur = self._current_version()
        if cur is not None:
            meta = self._meta(cur)
            self.num_buckets = int(meta["num_buckets"])
            self.mode = meta.get("mode", "bucketed")
            self._check_lsm(self.mode)
        return cur

    def _check_lsm(self, mode: str) -> None:
        """Refuse LSM mode for a MAX column. MySQL's MAX (a NULL on
        either side keeps the old value) is not associative: a compaction
        folding two newer runs that hold NULL then x for a key stores
        NULL, and the read then keeps an older run's smaller value over
        x, where the bucketed merge answers x."""
        if mode == "lsm" and MergePolicy.MAX in self.policies.values():
            raise ValueError(
                "mode='lsm' cannot fold a MergePolicy.MAX column exactly;"
                " use mode='bucketed'"
            )

    def _buckets_for(self, nbytes: int, floor: int = 1) -> int:
        """``floor`` doubled while ``nbytes`` of parquet exceed
        ``spark.sql.files.openCostInBytes`` (4 MiB) per bucket: Spark's
        estimate of a file's fixed cost, and the smallest split a scan
        gives its own task. A write pays one task and one file per
        bucket, so under 4 MiB is one file. The bytes are file sizes
        summed on the driver: sizing runs no Spark job."""
        conf = self.spark._jsparkSession.sessionState().conf()
        n = floor
        while nbytes > n * conf.filesOpenCostInBytes():
            n *= 2
        return n

    def _grow_layout(self, cur: Path | None) -> bool:
        """Size the layout to ``cur``'s stored bytes, from the current
        count up; True if it grew. A delta of K keys rewrites at most
        ~K x 4 MiB. The count never shrinks: that needs :meth:`rebucket`."""
        if cur is None:
            return False
        n = self._buckets_for(
            self._parquet_bytes(cur / "data"), self.num_buckets
        )
        grew, self.num_buckets = n != self.num_buckets, n
        return grew

    def _merge_buckets(
        self,
        cur: Path | None,
        delta: DataFrame,
        ledger: set[str] | None,
        discover: bool,
    ) -> None:
        stored = {} if cur is None else {
            d.name: d for d in (cur / "data").glob(f"{_BUCKET_COL}=*")
        }
        if discover:
            # which buckets does this delta touch?
            touched = [
                f"{_BUCKET_COL}={r[0]}"
                for r in delta.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            ]
        else:
            # every stored bucket is rewritten: one bucket, or a grown
            # layout whose key→bucket map no longer matches the stored one
            touched = list(stored)
        existing = [stored[b] for b in touched if b in stored]
        frame, fold = delta, False
        if discover and not touched and cur is not None:
            # an empty delta leaves stored state as it is (on a fresh
            # table it is written below, so its schema is recorded)
            frame = None
        elif existing:
            # the stored rows as run 0 and the delta, in the stored
            # dtypes, as run 1: the commit folds them by key in its write
            # stage, so state and delta shuffle at most once
            tgt = self._read_buckets(cur, existing)
            src = delta.selectExpr(
                *[f"CAST({_q(c)} AS {t}) AS {_q(c)}" for c, t in tgt.dtypes],
                "1 AS run",
            )
            frame = tgt.selectExpr("*", "0 AS run").union(src)
            fold = True
        self._commit_version(
            cur,
            frame,
            fold=fold,
            keep=[b for b in stored if b not in touched],
            ledger=ledger,
        )

    def _read_buckets(self, cur: Path, buckets: list[Path]) -> DataFrame:
        """The rows of some of ``cur``'s buckets, read with the row schema
        its commit recorded in meta.json: a pinned schema skips Spark's
        schema-inference job (one job per merge). A version whose meta
        has no schema (written before the key existed) falls back to
        inference. The fold casts merged columns back to the stored
        dtypes (:meth:`_fold_pairs`), so the recorded schema stays the
        files'."""
        reader = self.spark.read
        schema = self._recorded_schema(cur)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(p) for p in buckets])

    # -- LSM (append + compact) merge mode -----------------------------------
    #
    # Layout: ``v_N/data/run=SSSSSS/pt_bucket=B/part-*.parquet`` — each
    # run is one immutable, key-unique delta (or a fold of adjacent
    # deltas), bucket-partitioned but sized per write: an append is one
    # bucket, a fold takes the count its two runs' bytes need
    # (_buckets_for). Reads and folds group by key, so runs of one
    # version may differ in count. A version is
    # the SET of its runs; append = write one new run dir + hard-link
    # every prior run (zero data movement) through the one commit path
    # (_commit_version). Reads fold runs through per-column POLICY
    # AGGREGATES ordered by run seq, reproducing the pairwise merge
    # semantics exactly (incl. MySQL NULL quirks — see _fold_expr).
    # Compaction folds the newest two ADJACENT runs while the older has
    # < LSM_FOLD_FACTOR x the newer's rows (the binary-counter invariant),
    # pairwise in the write's own stage like the bucketed merge
    # (_fold_pairs):
    # adjacency preserves order-sensitive policies (KEEP/OVERWRITE; MAX
    # is not associative, so an LSM table takes none: _check_lsm),
    # the geometric size ladder bounds live runs at O(log(state/delta))
    # and amortized write amplification at O(log) — per-batch merge cost
    # no longer tracks total state size (r7 VERDICT #1).

    @staticmethod
    def _run_seq(d: Path) -> int:
        return int(d.name.split("=")[1])

    def _run_dirs(self, vdir: Path) -> list[Path]:
        return sorted((vdir / "data").glob("run=*"), key=self._run_seq)

    @staticmethod
    def _parquet_bytes(d: Path) -> int:
        return sum(f.stat().st_size for f in d.rglob("*.parquet"))

    @staticmethod
    def _parquet_rows(d: Path) -> int:
        """Rows under ``d``, read from the parquet footers on the driver
        (no Spark job). Unlike bytes, a row count carries no per-file
        overhead, so it compares a run's size with another's."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in d.rglob("*.parquet"))

    def _append_run(
        self, cur: Path | None, delta: DataFrame, ledger: set[str] | None
    ) -> None:
        """Append the delta as a new run: O(delta) regardless of state
        size — the delta is gathered into one bucket, without an
        exchange, and written; no existing run is read or rewritten.
        Then run the size-tiered compaction loop (each fold is its own
        committed version, so a crash at any point leaves consistent
        state)."""
        runs = self._run_dirs(cur) if cur is not None else []
        seq = self._run_seq(runs[-1]) + 1 if runs else 0
        self.num_buckets = 1
        self._commit_version(
            cur,
            delta,
            run=f"run={seq:06d}",
            keep=[r.name for r in runs],
            ledger=ledger,
        )
        self._lsm_auto_compact()

    def _lsm_auto_compact(self) -> None:
        """Restore the run-size invariant: newest-first, every run must
        be >= ``LSM_FOLD_FACTOR`` x the run after it (sizes in rows: a
        parquet file's fixed bytes would make every small run look the
        size of the whole state, and every append would refold it).
        Violations fold the newest two adjacent runs and cascade — the
        same amortization as a binary counter (run sizes ~ delta x
        factor^i), so a 50-batch ingest folds mostly batch-sized runs
        and only occasionally a larger prefix."""
        while True:
            cur = self._current_version()
            runs = self._run_dirs(cur)
            if len(runs) < 2:
                return
            need = (
                self._parquet_rows(runs[-2])
                < self.LSM_FOLD_FACTOR * self._parquet_rows(runs[-1])
                or len(runs) > self.LSM_MAX_RUNS
            )
            if not need:
                return
            self._fold_newest_two(cur, runs)

    def _fold_newest_two(self, cur: Path, runs: list[Path]) -> None:
        a, b = runs[-2], runs[-1]
        self.num_buckets = self._buckets_for(
            self._parquet_bytes(a) + self._parquet_bytes(b)
        )
        df = self.spark.read.option("basePath", str(cur / "data")).parquet(
            *[str(d) for d in (a, b) if any(d.rglob("*.parquet"))]
        )
        self._commit_version(
            cur,
            df,
            fold=True,
            # a fold writes no new rows: it keeps the recorded schema
            schema=self._meta(cur).get("schema"),
            # the folded run takes the OLDER seq so it stays ordered
            # before any still-live older runs and after nothing it
            # absorbed — adjacency is what makes this legal
            run=a.name,
            keep=[r.name for r in runs[:-2]],
        )

    def _fold_pairs(self, rows: DataFrame) -> DataFrame:
        """Fold a two-run frame (data cols, ``run`` and the bucket col,
        at most one row per key and run) to one row per key with the
        pairwise policies of :meth:`_pair_expr`: the bucketed merge
        (stored rows as run 0, the delta as run 1) and the LSM
        compaction. The window needs its rows clustered by key, which
        the write's partitioning already does, and sorted by
        (bucket, key, run), which is the write's own sort: a key's newer
        row sees the older one through ``lag`` and is the one kept.
        Merged values are cast back to the stored dtype, for the reason
        :meth:`_fold_expr` gives.

        The expressions are SQL text, one ``selectExpr`` per step: built
        column by column they cost a py4j round trip per function call,
        ~10k per merge of a 61-column table, over a second of driver
        time."""
        w = "OVER (PARTITION BY {} ORDER BY run)".format(
            ", ".join(_q(c) for c in (_BUCKET_COL, *self.key))
        )
        dtypes = rows.dtypes
        measures = {
            c for c, _ in dtypes if c not in (*self.key, "run", _BUCKET_COL)
        }
        paired = rows.selectExpr(
            "*",
            f"lag(run) {w} IS NOT NULL AS _older",
            f"lead(run) {w} IS NULL AS _newest",
            *[
                f"lag({_q(c)}) {w} AS {_q('_old_' + c)}"
                for c, _ in dtypes
                if c in measures
            ],
        )
        out = [
            f"CAST(CASE WHEN _older THEN "
            f"{self._pair_expr(c, _q('_old_' + c), _q(c), t)} "
            f"ELSE {_q(c)} END AS {t}) AS {_q(c)}"
            if c in measures
            else _q(c)
            for c, t in dtypes
            if c != "run"
        ]
        return paired.where("_newest").selectExpr(*out)

    def _pair_expr(self, c: str, old: str, new: str, dtype: str) -> str:
        """One column's merge policy applied to a key's stored (``old``)
        and incoming (``new``) values, as SQL — ``ON DUPLICATE KEY
        UPDATE``. The caller casts the result back to ``dtype``."""
        policy = self.policies.get(c, MergePolicy.ADD)
        if policy == MergePolicy.ADD:
            # NULL + x = NULL, matching MySQL (crunch_global.sql:69).
            # Doubles add through DECIMAL(28,6) so accumulated state is
            # bit-exact and order-independent (the reference instead
            # accumulates float rounding error — a deliberate upgrade).
            if dtype in ("double", "float"):
                return f"CAST({old} AS {_EXACT}) + CAST({new} AS {_EXACT})"
            return f"{old} + {new}"
        if policy == MergePolicy.ADD_NULLSAFE:
            # SUM-merge: a NULL partial is the identity. Deliberately no
            # DECIMAL detour: decimal(28,6) rounds a sub-1e-6 double
            # partial to zero and NULLs on >1e22 overflow, which would
            # break maintained==recompute; plain double addition matches
            # SQL SUM over DOUBLE exactly (callers wanting exact
            # accumulation cast their measure expression to DECIMAL).
            return (
                f"CASE WHEN {new} IS NULL THEN {old} "
                f"WHEN {old} IS NULL THEN {new} ELSE {old} + {new} END"
            )
        if policy == MergePolicy.MAX:
            # MySQL CASE: NULL on either side keeps the old value
            return f"CASE WHEN {new} > {old} THEN {new} ELSE {old} END"
        if policy in (MergePolicy.LEAST, MergePolicy.GREATEST):
            cmp = "<" if policy == MergePolicy.LEAST else ">"
            return (
                f"CASE WHEN {new} IS NULL THEN {old} WHEN {old} IS NULL "
                f"THEN {new} WHEN {new} {cmp} {old} THEN {new} ELSE {old} END"
            )
        if policy == MergePolicy.KEEP:
            return old
        return new  # OVERWRITE

    def _fold_runs(self, df: DataFrame) -> DataFrame:
        """Collapse a multi-run frame (data cols + ``run``/bucket
        partition cols) to one row per key via policy aggregates: the
        read of an LSM table with more than one live run."""
        self._check_lsm("lsm")
        out_cols = [c for c in df.columns if c not in ("run", _BUCKET_COL)]
        dtypes = dict(df.dtypes)
        aggs = [
            self._fold_expr(c, dtypes[c])
            for c in out_cols
            if c not in self.key
        ]
        return df.groupBy(*self.key).agg(*aggs).select(out_cols)

    def _fold_expr(self, c: str, dtype: str) -> Column:
        """The aggregate form of one column's pairwise merge policy
        (:meth:`_pair_expr`) over any number of runs.

        Pairwise-equivalence notes (pinned against the full-outer-join
        SELECT of :mod:`cruncher_spark.merge.merge_into` on DuckDB, and
        against the bucketed merge, in tests/test_merge_streaming.py):

        - ADD (NULL-propagating): any NULL among the key's rows → NULL;
          otherwise sum — identical to any pairwise order. Doubles add
          through DECIMAL(28,6); a key in a single run passes through
          unquantized, exactly like a pairwise merge where the other
          side is absent.
        - ADD_NULLSAFE: SQL SUM — a NULL partial is the identity, NULL
          iff all NULL; no DECIMAL detour (see :meth:`_pair_expr`). A
          double never goes through ``sum``, which starts from 0.0
          (``0.0 + -0.0`` is ``0.0``), when the pairwise sum keeps a
          ``-0.0``: a lone value passes through ``max``, and values that
          are all ``-0.0`` give ``-0.0``.
        - LEAST / GREATEST: plain MIN / MAX (NULL is the identity).
        - KEEP / OVERWRITE: first / last row's value BY RUN SEQ, even
          when that value is NULL (``min_by``/``max_by`` keep a NULL
          value).

        Only the order-dependent picks use ``min_by``/``max_by``; every
        other policy folds with ``sum``/``count``/``min``/``max``, whose
        buffers keep the fold a hash aggregate.
        """
        v = F.col(c)
        rows, values = F.count(F.lit(1)), F.count(v)
        policy = self.policies.get(c, MergePolicy.ADD)
        floating = dtype in ("double", "float")
        if policy == MergePolicy.ADD:
            expr = F.when(values < rows, F.lit(None))
            if floating:
                expr = expr.when(rows == 1, F.max(v)).otherwise(
                    F.sum(v.cast(_EXACT))
                )
            else:
                expr = expr.otherwise(F.sum(v))
        elif policy == MergePolicy.ADD_NULLSAFE and not floating:
            expr = F.sum(v)
        elif policy == MergePolicy.ADD_NULLSAFE:
            # every value is a zero, and 1/v is -inf for each
            all_neg_zero = (
                (F.min(v) == 0)
                & (F.max(v) == 0)
                & (F.max(F.pow(v, F.lit(-1.0))) < 0)
            )
            expr = (
                F.when(values == 1, F.max(v))
                .when(all_neg_zero, F.lit(-0.0))
                .otherwise(F.sum(v))
            )
        elif policy == MergePolicy.LEAST:
            expr = F.min(v)
        elif policy == MergePolicy.GREATEST:
            expr = F.max(v)
        elif policy == MergePolicy.KEEP:
            expr = F.min_by(v, F.col("run"))
        else:  # OVERWRITE
            expr = F.max_by(v, F.col("run"))
        # Pin the stored dtype: Spark widens DECIMAL arithmetic (sum adds
        # ten digits of precision); without this cast, a merge touching a
        # subset of buckets would leave the version with mixed parquet
        # decimal schemas (untouched buckets are hard links at the old
        # precision) and the next read fails with
        # PARQUET_COLUMN_DATA_TYPE_MISMATCH.
        return expr.cast(dtype).alias(c)

    # -- commit -------------------------------------------------------------

    def _commit_version(
        self,
        cur: Path | None,
        frame: DataFrame | None,
        *,
        fold: bool = False,
        schema: str | None = None,
        run: str | None = None,
        keep: Sequence[str] = (),
        ledger: set[str] | None = None,
    ) -> None:
        """Write version ``cur + 1`` complete, then flip CURRENT to it.

        ``frame`` (if any) is written bucket-partitioned into ``data/``
        or, for an LSM run, ``data/<run>``, one write task and one file
        per bucket, each file sorted by key. With ``fold`` it is a
        union of two ``run``-tagged runs, folded by key
        (:meth:`_fold_pairs`) in the write's own stage. ``keep``
        names the dirs of ``cur/data`` (buckets or runs) hard-linked in
        unchanged; ``ledger`` is the
        new set of applied batch ids (None: ``cur``'s, linked forward);
        ``meta.json`` records the layout (an LSM table's bucket count is
        its newest write's) and the row ``schema`` (None:
        the written rows', or ``cur``'s when nothing is written), which
        keeps a table with no rows readable. Any leftover dir of a
        crashed earlier attempt at the same version number is replaced.
        """
        self.path.mkdir(parents=True, exist_ok=True)
        cur_n = int(cur.name.split("_")[1]) if cur is not None else 0
        new = self.path / f"v_{cur_n + 1:06d}"
        if new.exists():
            shutil.rmtree(new)
        (new / "data").mkdir(parents=True)

        if frame is not None:
            out = new / "data" / run if run else new / "data"
            # hash-partitioning the key over num_buckets puts bucket b in
            # partition b (both are pmod(murmur3(key), num_buckets)), so
            # no two buckets share a write task; partitioning on the
            # bucket column would hash bucket ids again and collide. One
            # bucket has nothing to route: coalesce gathers every row into
            # the one write task without an exchange, and the stored
            # scan, the fold and the write run in the stage that finishes
            # the frame. Either partitioning clusters the fold's window,
            # so it runs in the write stage, on the write's sort.
            if self.num_buckets == 1:
                rows = frame.coalesce(1)
            else:
                rows = frame.repartition(
                    self.num_buckets, *[F.col(k) for k in self.key]
                )
            rows = rows.withColumn(_BUCKET_COL, self._bucket_expr())
            if fold:
                rows = self._fold_pairs(rows)
            if schema is None:
                schema = rows.drop(_BUCKET_COL).schema.json()
            # after a fold the window has sorted each bucket by key and
            # run already, and Spark drops this sort: one sort per write
            (
                rows.sortWithinPartitions(_BUCKET_COL, *self.key)
                .write.mode("append")
                .partitionBy(_BUCKET_COL)
                .parquet(str(out))
            )
            if run and not any(out.rglob("*.parquet")):
                # empty frame (e.g. an ingest batch with zero survivors):
                # no parquet-less run dirs — they would pile past the fold
                # invariant (0-byte runs never trigger it)
                shutil.rmtree(out)
        elif schema is None and cur is not None:
            schema = self._meta(cur).get("schema")
        for name in keep:  # zero data movement
            for f_ in (cur / "data" / name).rglob("*"):
                if f_.is_file():
                    dst = new / "data" / f_.relative_to(cur / "data")
                    dst.parent.mkdir(parents=True, exist_ok=True)
                    os.link(f_, dst)

        if ledger is not None:
            # driver-side pyarrow write (see applied_batches: a Spark job
            # for a few driver-local strings costs seconds of fixed
            # overhead per merge); same parquet format either way
            import pyarrow as pa
            import pyarrow.parquet as pq

            (new / "ledger").mkdir()
            pq.write_table(
                pa.table({"batch_id": pa.array(sorted(ledger), pa.string())}),
                new / "ledger" / "ledger.parquet",
            )
        elif cur is not None and (cur / "ledger").exists():
            (new / "ledger").mkdir()
            for f_ in (cur / "ledger").iterdir():
                if f_.is_file():
                    os.link(f_, new / "ledger" / f_.name)

        (new / "meta.json").write_text(
            json.dumps(
                {
                    "num_buckets": self.num_buckets,
                    "key": self.key,
                    "schema": schema,
                    "mode": self.mode,
                }
            )
        )
        self._flip(new)

    def _flip(self, new: Path) -> None:
        tmp_ptr = self.path / f"CURRENT.tmp.{new.name}"
        tmp_ptr.write_text(new.name)
        os.replace(tmp_ptr, self._pointer)  # ← the commit point

        # GC: keep the newest `retain_versions` committed versions (time
        # travel); orphans from crashes before their pointer flip — and
        # anything older than the retention window — are garbage.
        new_n = int(new.name.split("_")[1])
        keep = {
            f"v_{n:06d}"
            for n in range(max(1, new_n - self.retain_versions + 1), new_n + 1)
        }
        for v in self.path.glob("v_*"):
            if v.name not in keep:
                shutil.rmtree(v, ignore_errors=True)

    # -- maintenance ---------------------------------------------------------

    def rebucket(self, num_buckets: int) -> None:
        """Rewrite the table into a new hash-bucket layout, atomically:
        the one way to set a bucket count.

        Merges grow a bucketed table's count on their own
        (:meth:`_grow_layout`) and never shrink it, and LSM runs are
        sized per write, so this is for an explicit re-layout: shrinking
        a table an older build wrote at a fixed count (``rebucket(1)``
        lets growth take over from one bucket), or jumping ahead of
        growth before a known bulk load — like HBase region splitting or
        Delta/Iceberg ``OPTIMIZE``. An LSM table gets one run at
        ``num_buckets``, kept until a compaction folds that run and sizes
        the result from its bytes.

        Cost: one full read + partitioned rewrite of the state (run it
        off the merge path). The ledger is carried forward unchanged, so
        replay idempotence is preserved, and readers see the old layout
        until the single pointer flip.

        Concurrency: serializes on the same WRITER.lock as :meth:`merge`
        (r6; without it a merge racing the rebucket would build its
        version from the pre-rebucket CURRENT and the last pointer flip
        would silently discard the other writer's work). The state read
        happens INSIDE the lock, so the rewrite always reflects the
        latest committed version; a table can therefore be re-tuned
        ONLINE while its worker keeps merging — the merge just blocks
        for the duration of the rewrite.
        """
        with self.writer_lock():
            cur = self._adopt_layout()
            if cur is None:
                raise FileNotFoundError(f"point table not initialized: {self.path}")
            state = self.read().persist()
            try:
                self.num_buckets = num_buckets
                # the whole state in the new layout, keeping nothing of
                # cur (LSM: one consolidated run)
                self._commit_version(
                    cur,
                    state,
                    run="run=000000" if self.mode == "lsm" else None,
                )
            finally:
                state.unpersist()
