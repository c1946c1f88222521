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

Cost model — O(delta), like the reference's ``ON DUPLICATE KEY UPDATE``:
state is laid out in ``num_buckets`` hash buckets of the merge key
(``__bucket=N`` parquet partitions). A merge reads and rewrites ONLY the
buckets the delta's keys hash into; every untouched bucket is hard-linked
into the new state version (zero data movement, byte-identical files).
On a production deployment the same role is played by Delta/Iceberg
``MERGE INTO`` with data skipping on the merge key; this module gives the
same semantics and the same O(delta·state/num_buckets) merge cost
dependency-free over plain parquet.

When a delta's keys are UNIFORM over the key space (streaming ingest
survivors), every bucket is touched and the bucketed rewrite degrades to
O(state) per batch — for that shape ``mode="lsm"`` appends each delta as
an immutable run instead (O(delta) per batch forever) and folds runs at
read/compaction time with policy aggregates that reproduce the pairwise
merge semantics exactly; see the "LSM (append + compact) merge mode"
section below.

Commit protocol — one atomic step: each merge writes a complete new
version directory ``v_NNNNNN/`` holding data buckets *and* the
``_applied_batches`` ledger, then atomically renames ``CURRENT.tmp`` over
the ``CURRENT`` pointer file. A crash anywhere before that rename leaves
the previous version fully intact (orphan version dirs are garbage-
collected on the next merge); there is no window where the batch is
applied but unrecorded.

Exactly-once: the reference ACKs after commit and therefore double-counts
replayed batches (worker.js:167-182, at-least-once). Here every applied
``batch_id`` is recorded in the ledger committed by the same pointer
flip, so replays are idempotent (T4's deliberate upgrade; the reference's
at-least-once behavior is available by passing ``batch_id=None``).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Mapping, Sequence
from enum import Enum
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# NB: must not start with "_" or "." — Hadoop file listing hides such paths,
# which would make the partition dirs invisible to subsequent reads.
_BUCKET_COL = "pt_bucket"


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
    contractually non-NULL — a NULL key row is treated as absent by the
    merge presence checks); ``policies`` maps measure column →
    MergePolicy, defaulting to ADD (the dominant reference policy).
    ``num_buckets`` fixes the hash-bucket layout at table creation; an
    existing table's persisted bucket count always wins so the key→bucket
    mapping stays stable for the table's lifetime.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: Sequence[str],
        policies: Mapping[str, MergePolicy] | None = None,
        num_buckets: int = 32,
        retain_versions: int = 1,
        mode: str = "bucketed",
        lsm_fold_factor: float = 2.0,
        lsm_max_runs: int = 32,
    ):
        self.spark = spark
        self.path = Path(path)
        self.key = list(key)
        self.policies = dict(policies or {})
        self.num_buckets = num_buckets
        if mode not in ("bucketed", "lsm"):
            raise ValueError(f"unknown merge mode: {mode!r}")
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
        #: older is < ``lsm_fold_factor`` x the newer — the binary-
        #: counter invariant) keeps run counts logarithmic with O(log)
        #: amortized write amplification. The same trade every LSM
        #: store makes (RocksDB/Cassandra); the reference's MySQL
        #: B-tree upsert is the bucketed analog. An existing table's
        #: persisted mode always wins, like num_buckets.
        self.mode = mode
        self.lsm_fold_factor = lsm_fold_factor
        self.lsm_max_runs = lsm_max_runs
        #: how many committed versions survive GC (>=1). Retention is
        #: nearly free: untouched buckets are hard links, so N retained
        #: versions share file storage and only rewritten buckets differ —
        #: the same trick that makes Delta/Iceberg time travel affordable.
        self.retain_versions = max(1, retain_versions)
        #: writer_lock re-entrancy state, PER THREAD (see :meth:`writer_lock`)
        import threading

        self._lock_state = threading.local()

    # -- writer serialization ------------------------------------------------

    @property
    def _lock_depth(self) -> int:
        return getattr(self._lock_state, "depth", 0)

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

    def _data_dir(self) -> Path:
        cur = self._current_version()
        if cur is None:
            raise FileNotFoundError(f"point table not initialized: {self.path}")
        return cur / "data"

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
        if version is not None:
            vdir = self.path / f"v_{version:06d}"
            if version not in self.versions():
                raise FileNotFoundError(
                    f"version {version} not retained (have {self.versions()})"
                )
            return self._read_data(vdir / "data", vdir)
        return self._read_data(self._data_dir(), self._current_version())

    def _read_data(self, data: Path, vdir: Path | None) -> DataFrame:
        if vdir is not None and self._meta(vdir).get("mode") == "lsm":
            return self._read_lsm(data, vdir)
        if not any(data.glob(f"{_BUCKET_COL}=*")):
            # state emptied (e.g. CDC deletes removed every key): no parquet
            # to infer from — rebuild the empty frame from the schema the
            # version's commit recorded in meta.json
            schema = self._recorded_schema(vdir) if vdir is not None else None
            if schema is not None:
                return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(str(data)).drop(_BUCKET_COL)

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

    def _bucket_expr(self) -> F.Column:
        # Murmur3 of the full key tuple; stable across sessions, null-safe.
        return F.pmod(F.hash(*[F.col(k) for k in self.key]), F.lit(self.num_buckets))

    def merge(self, delta: DataFrame, batch_id: str | None = None) -> bool:
        """Fold one delta (key-unique rows) into the table.

        Returns False (no-op) if ``batch_id`` was already applied —
        idempotent replay. With ``batch_id=None`` replays double-count,
        which is the reference's at-least-once behavior.

        Cost: reads/rewrites only the hash buckets containing the delta's
        keys; all other buckets are hard-linked into the new version.

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
            if batch_id is not None and batch_id in self.applied_batches():
                return False

            cur = self._current_version()
            if cur is not None:
                meta = self._meta(cur)
                self.num_buckets = int(meta["num_buckets"])
                self.mode = meta.get("mode", "bucketed")

            if self.mode == "lsm":
                # append-only: the delta is consumed exactly once (the
                # run write) — no bucket-discovery job, no persist
                return self._merge_lsm(delta, cur, batch_id)

            # The delta is consumed twice (bucket discovery + merge write);
            # persist so the upstream crunch plan runs once per batch.
            delta = delta.persist()
            try:
                return self._merge_persisted(delta, cur, batch_id)
            finally:
                delta.unpersist()

    def _merge_persisted(
        self, delta: DataFrame, cur: Path | None, batch_id: str | None
    ) -> bool:
        # which buckets does this delta touch?
        affected = sorted(
            r[0]
            for r in delta.select(self._bucket_expr().alias("b")).distinct().collect()
        )

        merged = None
        if affected:
            if cur is None:
                merged = delta
            else:
                existing = [
                    cur / "data" / f"{_BUCKET_COL}={b}"
                    for b in affected
                    if (cur / "data" / f"{_BUCKET_COL}={b}").exists()
                ]
                if existing:
                    tgt = self._read_buckets(cur, existing)
                    merged = self._merge_frames(tgt, delta)
                else:
                    merged = delta

        self._commit(cur, merged, affected, batch_id)
        return True

    def _read_buckets(self, cur: Path, buckets: list[Path]) -> DataFrame:
        """The rows of some of ``cur``'s buckets, read with the row schema
        its commit recorded in meta.json: a pinned schema skips Spark's
        schema-inference job (one job per merge). A version whose meta
        has no schema (written before the key existed) falls back to
        inference. Merged buckets are cast back to the stored dtypes
        (:meth:`_merge_frames`), so the recorded schema stays the files'."""
        reader = self.spark.read
        schema = self._recorded_schema(cur)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(p) for p in buckets])

    def _merge_frames(
        self,
        tgt: DataFrame,
        src: DataFrame,
        policy_override: MergePolicy | None = None,
    ) -> DataFrame:
        t = tgt.select([F.col(c).alias(f"_t_{c}") for c in tgt.columns])
        s = src.select([F.col(c).alias(f"_s_{c}") for c in src.columns])
        cond = None
        for k in self.key:
            eq = t[f"_t_{k}"].eqNullSafe(s[f"_s_{k}"])
            cond = eq if cond is None else (cond & eq)
        joined = t.join(s, cond, "full_outer")

        out = []
        in_src = F.col(f"_s_{self.key[0]}").isNotNull()
        in_tgt = F.col(f"_t_{self.key[0]}").isNotNull()
        tgt_dtypes = dict(tgt.dtypes)
        for c in tgt.columns:
            tc, sc = F.col(f"_t_{c}"), F.col(f"_s_{c}")
            if c in self.key:
                out.append(F.coalesce(tc, sc).alias(c))
                continue
            policy = policy_override or self.policies.get(c, MergePolicy.ADD)
            if policy in (MergePolicy.ADD, MergePolicy.ADD_NULLSAFE):
                # ADD: NULL + x = NULL, matching MySQL (crunch_global.sql:69).
                # Doubles add through DECIMAL(28,6) so accumulated state is
                # bit-exact and order-independent (the reference instead
                # accumulates float rounding error — a deliberate upgrade).
                # ADD_NULLSAFE (the view-maintenance fold) deliberately does
                # NOT take that detour: decimal(28,6) rounds a sub-1e-6
                # double partial to zero and NULLs on >1e22 overflow, which
                # would break maintained==recompute; plain double addition
                # matches SQL SUM over DOUBLE exactly (callers wanting exact
                # accumulation cast their measure expression to DECIMAL,
                # which flows through the integer branch untouched).
                dtype = tgt_dtypes[c]
                if policy == MergePolicy.ADD and dtype in ("double", "float"):
                    merged_val = (
                        tc.cast("decimal(28,6)") + sc.cast("decimal(28,6)")
                    ).cast(dtype)
                else:
                    merged_val = tc + sc
                if policy == MergePolicy.ADD_NULLSAFE:
                    # SUM-merge: a NULL partial is the identity
                    merged_val = (
                        F.when(sc.isNull(), tc)
                        .when(tc.isNull(), sc)
                        .otherwise(merged_val)
                    )
            elif policy == MergePolicy.MAX:
                merged_val = F.when(sc > tc, sc).otherwise(tc)
            elif policy == MergePolicy.LEAST:
                merged_val = (
                    F.when(sc.isNull(), tc)
                    .when(tc.isNull(), sc)
                    .when(sc < tc, sc)
                    .otherwise(tc)
                )
            elif policy == MergePolicy.GREATEST:
                merged_val = (
                    F.when(sc.isNull(), tc)
                    .when(tc.isNull(), sc)
                    .when(sc > tc, sc)
                    .otherwise(tc)
                )
            elif policy == MergePolicy.KEEP:
                merged_val = tc
            else:  # OVERWRITE
                merged_val = sc
            # Pin the stored dtype: Spark widens DECIMAL arithmetic by one
            # digit of precision per merge (decimal(18,6)+decimal(18,6) →
            # decimal(19,6)); without this cast, a merge touching a subset of
            # buckets would leave the version with mixed parquet decimal
            # schemas (untouched buckets are hard links at the old precision)
            # and the next read fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
            out.append(
                F.when(in_src & in_tgt, merged_val)
                .when(in_src, sc)
                .otherwise(tc)
                .cast(tgt_dtypes[c])
                .alias(c)
            )
        return joined.select(out)

    # -- LSM (append + compact) merge mode -----------------------------------
    #
    # Layout: ``v_N/data/run=SSSSSS/pt_bucket=B/part-*.parquet`` — each
    # run is one immutable, key-unique delta (or a fold of adjacent
    # deltas), bucket-partitioned like the bucketed layout. A version is
    # the SET of its runs; append = write one new run dir + hard-link
    # every prior run (zero data movement) + the same ledger/meta/flip
    # commit protocol. Reads fold runs through per-column POLICY
    # AGGREGATES ordered by run seq, reproducing the pairwise merge
    # semantics exactly (incl. MySQL NULL quirks — see _fold_expr).
    # Compaction folds the newest two ADJACENT runs while the older is
    # < lsm_fold_factor x the newer (the binary-counter invariant):
    # adjacency preserves order-sensitive policies (KEEP/OVERWRITE/MAX),
    # the geometric size ladder bounds live runs at O(log(state/delta))
    # and amortized write amplification at O(log) — per-batch merge cost
    # no longer tracks total state size (r7 VERDICT #1).

    @staticmethod
    def _run_seq(d: Path) -> int:
        return int(d.name.split("=")[1])

    def _run_dirs(self, vdir: Path) -> list[Path]:
        return sorted((vdir / "data").glob("run=*"), key=self._run_seq)

    @staticmethod
    def _run_bytes(d: Path) -> int:
        return sum(f.stat().st_size for f in d.rglob("*.parquet"))

    def _link_runs(
        self, cur: Path | None, new: Path, exclude: frozenset | set = frozenset()
    ) -> None:
        """Hard-link every (non-excluded) run of ``cur`` into ``new``."""
        if cur is None:
            return
        for rdir in self._run_dirs(cur):
            if rdir.name in exclude:
                continue
            for f_ in rdir.rglob("*"):
                if f_.is_file():
                    dst = new / "data" / f_.relative_to(cur / "data")
                    dst.parent.mkdir(parents=True, exist_ok=True)
                    os.link(f_, dst)

    def _link_ledger(self, cur: Path | None, new: Path) -> None:
        if cur is not None and (cur / "ledger").exists():
            (new / "ledger").mkdir(exist_ok=True)
            for f_ in (cur / "ledger").iterdir():
                if f_.is_file():
                    os.link(f_, new / "ledger" / f_.name)

    def _merge_lsm(
        self, delta: DataFrame, cur: Path | None, batch_id: str | None
    ) -> bool:
        """Append the delta as a new run: O(delta) regardless of state
        size — the delta is shuffled once into its bucket layout and
        written; no existing bucket is read or rewritten. Then run the
        size-tiered compaction loop (each fold is its own committed
        version, so a crash at any point leaves consistent state)."""
        runs = self._run_dirs(cur) if cur is not None else []
        seq = self._run_seq(runs[-1]) + 1 if runs else 0
        new = self._fresh_version_dir(cur)
        run_dir = new / "data" / f"run={seq:06d}"
        (
            delta.withColumn(_BUCKET_COL, self._bucket_expr())
            .repartition(self.num_buckets, F.col(_BUCKET_COL))
            .write.mode("append")
            .partitionBy(_BUCKET_COL)
            .parquet(str(run_dir))
        )
        if not any(run_dir.rglob("*.parquet")):
            # empty delta (e.g. an ingest batch with zero survivors):
            # record the batch in the ledger but do not keep a
            # parquet-less run dir — they would pile past the fold
            # invariant (0-byte runs never trigger it)
            shutil.rmtree(run_dir)
        self._link_runs(cur, new)
        self._write_ledger(new, cur, batch_id)
        self._write_meta(new, delta.schema.json(), mode="lsm")
        self._flip(new)
        self._lsm_auto_compact()
        return True

    def _lsm_auto_compact(self) -> None:
        """Restore the run-size invariant: newest-first, every run must
        be >= ``lsm_fold_factor`` x the run after it (sizes in bytes).
        Violations fold the newest two adjacent runs and cascade — the
        same amortization as a binary counter (run sizes ~ delta x
        factor^i), so a 50-batch ingest folds mostly batch-sized runs
        and only occasionally a larger prefix. ``lsm_max_runs`` is a
        hard ceiling safeguard for pathological size distributions."""
        while True:
            cur = self._current_version()
            runs = self._run_dirs(cur)
            if len(runs) < 2:
                return
            need = (
                self._run_bytes(runs[-2])
                < self.lsm_fold_factor * self._run_bytes(runs[-1])
                or len(runs) > self.lsm_max_runs
            )
            if not need:
                return
            self._fold_newest_two(cur, runs)

    def _fold_newest_two(self, cur: Path, runs: list[Path]) -> None:
        a, b = runs[-2], runs[-1]
        df = self.spark.read.option("basePath", str(cur / "data")).parquet(
            *[str(d) for d in (a, b) if any(d.rglob("*.parquet"))]
        )
        folded = self._fold_runs(df)
        new = self._fresh_version_dir(cur)
        (
            folded.withColumn(_BUCKET_COL, self._bucket_expr())
            .repartition(self.num_buckets, F.col(_BUCKET_COL))
            .write.mode("append")
            .partitionBy(_BUCKET_COL)
            # the folded run takes the OLDER seq so it stays ordered
            # before any still-live older runs and after nothing it
            # absorbed — adjacency is what makes this legal
            .parquet(str(new / "data" / a.name))
        )
        self._link_runs(cur, new, exclude={a.name, b.name})
        self._link_ledger(cur, new)
        self._write_meta(new, self._meta(cur).get("schema"), mode="lsm")
        self._flip(new)

    def _fold_runs(self, df: DataFrame) -> DataFrame:
        """Collapse a multi-run frame (data cols + ``run``/bucket
        partition cols) to one row per key via policy aggregates."""
        out_cols = [c for c in df.columns if c not in ("run", _BUCKET_COL)]
        dtypes = dict(df.dtypes)
        aggs = [
            self._fold_expr(c, dtypes[c])
            for c in out_cols
            if c not in self.key
        ]
        return df.groupBy(*self.key).agg(*aggs).select(out_cols)

    def _fold_expr(self, c: str, dtype: str) -> F.Column:
        """The aggregate form of one column's pairwise merge policy.

        Pairwise-equivalence notes (pinned by the property test in
        tests/test_merge_streaming.py):

        - ADD (MySQL ``col + VALUES(col)``, NULL-propagating): any NULL
          among the key's rows → NULL; otherwise sum — identical to any
          pairwise order. The double→DECIMAL(28,6) detour applies only
          when >= 2 rows fold (a key present in a single run passes
          through UNquantized, exactly like a pairwise merge where the
          other side is absent).
        - MAX (MySQL CASE, NULL keeps OLD): a NULL FIRST value absorbs
          everything (new > NULL is never true); otherwise later NULLs
          are ignored and the max of non-NULL values wins — i.e.
          ``first IS NULL ? NULL : max(values)``.
        - KEEP / OVERWRITE: first / last row's value BY RUN SEQ, even
          when that value is NULL — the struct wrapper stops min_by/
          max_by from skipping NULL payloads.
        - ADD_NULLSAFE / LEAST / GREATEST: plain SUM / MIN / MAX (NULL
          is the identity; NULL iff all NULL) — SQL aggregate semantics
          by construction.
        """
        v = F.col(c)
        run = F.col("run")
        first_v = F.min_by(F.struct(v.alias("v")), run)["v"]
        last_v = F.max_by(F.struct(v.alias("v")), run)["v"]
        policy = self.policies.get(c, MergePolicy.ADD)
        if policy == MergePolicy.ADD:
            any_null = F.max(F.when(v.isNull(), F.lit(1)).otherwise(F.lit(0)))
            if dtype in ("double", "float"):
                total = F.sum(v.cast("decimal(28,6)"))
            else:
                total = F.sum(v)
            expr = (
                F.when(any_null == 1, F.lit(None))
                .when(F.count(F.lit(1)) == 1, first_v)
                .otherwise(total)
            )
        elif policy == MergePolicy.ADD_NULLSAFE:
            expr = F.sum(v)
        elif policy == MergePolicy.MAX:
            expr = F.when(first_v.isNull(), F.lit(None)).otherwise(F.max(v))
        elif policy == MergePolicy.LEAST:
            expr = F.min(v)
        elif policy == MergePolicy.GREATEST:
            expr = F.max(v)
        elif policy == MergePolicy.KEEP:
            expr = first_v
        else:  # OVERWRITE
            expr = last_v
        return expr.cast(dtype).alias(c)

    def _read_lsm(self, data: Path, vdir: Path) -> DataFrame:
        if not any(data.rglob("*.parquet")):
            schema = self._recorded_schema(vdir)
            if schema is not None:
                return self.spark.createDataFrame([], schema)
        df = self.spark.read.option("basePath", str(data)).parquet(str(data))
        runs = [d for d in data.glob("run=*") if any(d.rglob("*.parquet"))]
        if len(runs) == 1:
            # a single run is key-unique by construction — no fold needed
            return df.drop("run", _BUCKET_COL)
        return self._fold_runs(df)

    # -- CDC apply -----------------------------------------------------------

    def apply_cdc(
        self, changes: DataFrame, op_col: str = "op", batch_id: str | None = None
    ) -> bool:
        """Apply a change-data-capture batch: row images with an op column.

        ``op`` per row: ``'upsert'`` — the row image replaces the stored
        row entirely (insert if absent); ``'delete'`` — the key is removed
        from state. This is the Debezium/Delta-CDF apply shape the
        accumulator ``merge`` can't express (the reference's MySQL has
        ``DELETE`` but its worker never deletes — this is the engine-
        completeness upgrade). Changes must be key-unique, pre-compacted
        to the LAST image per key (the standard CDC consumer contract —
        compact upstream with ``row_number() over (partition by key order
        by source offset desc) = 1``).

        Same cost model and commit protocol as :meth:`merge`: only the
        buckets containing changed keys are read/rewritten (a bucket
        emptied by deletes simply disappears from the new version), every
        untouched bucket hard-links forward, and the batch-id ledger makes
        replays idempotent under the same atomic pointer flip.

        Serializes on the same re-entrant writer lock as :meth:`merge`
        (r8: previously unlocked — a CDC batch racing a merge could build
        from the same base version and the last pointer flip silently
        discarded the other writer's work).
        """
        with self.writer_lock():
            return self._apply_cdc_locked(changes, op_col, batch_id)

    def _apply_cdc_locked(
        self, changes: DataFrame, op_col: str, batch_id: str | None
    ) -> bool:
        if batch_id is not None and batch_id in self.applied_batches():
            return False
        cur = self._current_version()
        if cur is not None:
            meta = self._meta(cur)
            self.num_buckets = int(meta["num_buckets"])
            self.mode = meta.get("mode", "bucketed")
        if self.mode == "lsm":
            return self._apply_cdc_lsm(changes, op_col, batch_id, cur)

        changes = changes.persist()
        try:
            ups = changes.where(F.col(op_col) == "upsert").drop(op_col)
            dels = changes.where(F.col(op_col) == "delete").select(*self.key)
            affected = sorted(
                r[0]
                for r in changes.select(self._bucket_expr().alias("b"))
                .distinct()
                .collect()
            )
            merged = None
            if affected:
                existing = (
                    [
                        cur / "data" / f"{_BUCKET_COL}={b}"
                        for b in affected
                        if (cur / "data" / f"{_BUCKET_COL}={b}").exists()
                    ]
                    if cur is not None
                    else []
                )
                if existing:
                    tgt = self._read_buckets(cur, existing)
                    kept = tgt.join(dels, self.key, "left_anti")
                    merged = self._merge_frames(
                        kept, ups, policy_override=MergePolicy.OVERWRITE
                    )
                else:
                    merged = ups
            self._commit(cur, merged, affected, batch_id)
            return True
        finally:
            changes.unpersist()

    def _apply_cdc_lsm(
        self,
        changes: DataFrame,
        op_col: str,
        batch_id: str | None,
        cur: Path | None,
    ) -> bool:
        """CDC in LSM mode: fold-then-rewrite. Deletes and whole-row
        upserts need a key-unique view of state, so this path folds the
        runs, applies the change batch, and commits the result as ONE
        run — O(state), not O(delta). CDC is a correctness surface here,
        not the ingest hot path (the hot path is :meth:`merge`); a
        deployment mixing high-rate CDC with LSM accumulation should
        keep CDC-heavy tables in bucketed mode (the mode exists per
        table for exactly this trade)."""
        changes = changes.persist()
        try:
            ups = changes.where(F.col(op_col) == "upsert").drop(op_col)
            dels = changes.where(F.col(op_col) == "delete").select(*self.key)
            if cur is not None and any((cur / "data").rglob("*.parquet")):
                kept = self.read().join(dels, self.key, "left_anti")
                merged = self._merge_frames(
                    kept, ups, policy_override=MergePolicy.OVERWRITE
                )
            else:
                merged = ups
            new = self._fresh_version_dir(cur)
            (
                merged.withColumn(_BUCKET_COL, self._bucket_expr())
                .repartition(self.num_buckets, F.col(_BUCKET_COL))
                .write.mode("append")
                .partitionBy(_BUCKET_COL)
                .parquet(str(new / "data" / "run=000000"))
            )
            self._write_ledger(new, cur, batch_id)
            self._write_meta(new, merged.schema.json(), mode="lsm")
            self._flip(new)
            return True
        finally:
            changes.unpersist()

    # -- commit -------------------------------------------------------------

    def _commit(
        self,
        cur: Path | None,
        merged: DataFrame | None,
        affected: list[int],
        batch_id: str | None,
    ) -> None:
        """Write a complete new version dir, then flip CURRENT atomically.

        The new version holds rewritten affected buckets, hard links to
        every untouched bucket file of the previous version, and the
        updated batch ledger. The single ``os.replace`` of the pointer
        file is the lone commit point for data + ledger together.
        """
        new = self._fresh_version_dir(cur)

        if merged is not None:
            (
                merged.withColumn(_BUCKET_COL, self._bucket_expr())
                # one shuffle partition per affected bucket → one coherent
                # file per bucket dir (at cluster scale raise this factor)
                .repartition(max(len(affected), 1), F.col(_BUCKET_COL))
                .write.mode("append")
                .partitionBy(_BUCKET_COL)
                .parquet(str(new / "data"))
            )
        if cur is not None:  # hard-link untouched buckets: zero data movement
            touched = {f"{_BUCKET_COL}={b}" for b in affected}
            for bdir in sorted((cur / "data").glob(f"{_BUCKET_COL}=*")):
                if bdir.name in touched:
                    continue
                dst = new / "data" / bdir.name
                dst.mkdir(parents=True, exist_ok=True)
                for f_ in bdir.iterdir():
                    if f_.is_file():
                        os.link(f_, dst / f_.name)

        self._write_ledger(new, cur, batch_id)

        # record the row schema so an emptied table stays readable (the
        # delta's schema when we have one, else carried forward)
        schema_json = (
            merged.drop(_BUCKET_COL).schema.json()
            if merged is not None
            else (self._meta(cur).get("schema") if cur is not None else None)
        )
        self._write_meta(new, schema_json, mode="bucketed")
        self._flip(new)

    def _write_ledger(
        self, new: Path, cur: Path | None, batch_id: str | None
    ) -> None:
        if batch_id is None and not (
            cur is not None and (cur / "ledger").exists()
        ):
            return
        ledger = self.applied_batches() | ({batch_id} if batch_id else set())
        # driver-side pyarrow write (see applied_batches: a Spark job
        # for a few driver-local strings costs seconds of fixed
        # overhead per merge); same parquet format either way
        import pyarrow as pa
        import pyarrow.parquet as pq

        (new / "ledger").mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table({"batch_id": pa.array(sorted(ledger), pa.string())}),
            new / "ledger" / "ledger.parquet",
        )

    def _write_meta(self, new: Path, schema_json, mode: str) -> None:
        (new / "meta.json").write_text(
            json.dumps(
                {
                    "num_buckets": self.num_buckets,
                    "key": self.key,
                    "schema": schema_json,
                    "mode": mode,
                }
            )
        )

    def _fresh_version_dir(self, cur: Path | None) -> Path:
        self.path.mkdir(parents=True, exist_ok=True)
        cur_n = int(cur.name.split("_")[1]) if cur is not None else 0
        new = self.path / f"v_{cur_n + 1:06d}"
        if new.exists():  # leftover from a crashed earlier attempt
            shutil.rmtree(new)
        (new / "data").mkdir(parents=True)
        return new

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

    # -- lakehouse interop ---------------------------------------------------

    def to_merge_into_sql(self, target: str, source: str) -> str:
        """This table's merge spec as a Delta/Iceberg ``MERGE INTO``
        statement (column list + SQL types taken from the live state).

        For a deployment whose state lives in a lakehouse table instead of
        this parquet layout: run the returned statement with the delta
        registered as ``source`` — identical per-column policy semantics
        (see :mod:`cruncher_spark.merge.merge_into`)."""
        from cruncher_spark.merge.merge_into import merge_into_sql

        schema = self.read().dtypes  # [(name, spark_sql_type)]
        cols = [c for c, _ in schema if c not in self.key]
        return merge_into_sql(
            target, source, self.key, cols, self.policies, dict(schema)
        )

    # -- maintenance ---------------------------------------------------------

    def rebucket(self, num_buckets: int) -> None:
        """Rewrite the table into a new hash-bucket layout, atomically.

        The bucket count is the knob that keeps merges O(delta): a merge
        rewrites ``state/num_buckets`` bytes per affected bucket, and a
        delta of K distinct keys touches ``min(K, num_buckets)`` buckets.
        A table created small (32 buckets) therefore degrades as state
        grows — at 100 TB every merge would rewrite 3 TB buckets. The
        operational recipe is the same as HBase region splitting or
        Delta/Iceberg ``OPTIMIZE``-with-repartition: periodically scale
        the layout to keep buckets in the hundreds-of-MB range
        (``num_buckets ≈ state_bytes / 256 MB``).

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
            self._rebucket_locked(num_buckets)

    def _rebucket_locked(self, num_buckets: int) -> None:
        cur = self._current_version()
        if cur is None:
            raise FileNotFoundError(f"point table not initialized: {self.path}")
        mode = self._meta(cur).get("mode", "bucketed")
        state = self.read().persist()
        try:
            self.num_buckets = num_buckets
            self.mode = mode
            new = self._fresh_version_dir(cur)
            # in LSM mode the rewrite lands as the single consolidated
            # run (a full compaction under the new layout)
            out = new / "data" if mode == "bucketed" else new / "data" / "run=000000"
            (
                state.withColumn(_BUCKET_COL, self._bucket_expr())
                .repartition(num_buckets, F.col(_BUCKET_COL))
                .write.mode("append")
                .partitionBy(_BUCKET_COL)
                .parquet(str(out))
            )
            self._link_ledger(cur, new)
            self._write_meta(new, state.schema.json(), mode=mode)
            self._flip(new)
        finally:
            state.unpersist()
