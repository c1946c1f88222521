"""Canonical-URL crawl frontier: the seen-set that sits in front of every
continuous crawl ingest (fetcher output → ``UrlFrontier.filter_fresh`` →
content dedup ingest → survivors).

Design notes (what a naive composition gets wrong — the ad-hoc version in
the first cut of ``tests/test_crawl_pipeline.py`` had BOTH hazards):

1. **Replay stability.** A frontier that anti-joins the batch against its
   own state and THEN merges loses the batch on crash-replay: after the
   merge committed, the replayed anti-join drops every URL the crashed
   run had already recorded, so the downstream ingest (which crashed
   before processing them) never sees the batch — silent data loss. The
   fix is recording WHICH batch introduced each URL (``first_batch``,
   KEEP policy): the fresh set is "not seen before, OR seen first by
   THIS batch id", a pure function of (state, batch) that returns the
   identical fresh set on every replay.

2. **Read-after-merge laziness.** The fresh set must be materialized
   (``localCheckpoint``) BEFORE the state merge: the join reads the
   state's current version lazily and the merge's LSM compaction
   garbage-collects that version's files (the ``PointTable.read``
   docstring caveat, found by FAILED_READ_FILE in the e2e test).

State is a :class:`~cruncher_spark.merge.upsert.PointTable` in LSM mode —
appends are O(batch) regardless of how many URLs the frontier has ever
seen, the property a 100 TB crawl's seen-set (billions of rows, hot
append path) actually needs — under the batch-id ledger, so the merge
itself is replay-idempotent too. Each batch's run is one file; the
table's compaction sizes the larger runs it folds from their bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.merge.upsert import MergePolicy, PointTable

__all__ = ["UrlFrontier"]

#: reserved alias for the state's first_batch column inside filter_fresh's
#: left join — never collides with a user frame (rejected if present)
_SEEN_BATCH_COL = "__frontier_first_batch__"


class UrlFrontier:
    """Persistent canonical-URL seen-set with replay-stable fresh-set
    semantics.

    ``filter_fresh(docs, batch_id)`` takes a micro-batch carrying a
    ``canon_url`` column (e.g. from
    :func:`cruncher_spark.sources.warc.warc_documents`), drops rows whose
    canonical URL was first seen by an EARLIER batch, collapses in-batch
    refetches of the same canonical URL to the lowest ``id_col`` row,
    records the survivors, and returns them materialized. NULL
    ``canon_url`` rows (non-absolute target URIs — the canonicalizer's
    quarantine signal) are dropped and counted, never recorded.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        id_col: str = "doc_id",
    ):
        self.spark = spark
        self.id_col = id_col
        self.state = PointTable(
            spark,
            state_dir,
            key=["canon_url"],
            policies={
                "first_doc": MergePolicy.KEEP,
                "first_batch": MergePolicy.KEEP,
            },
            mode="lsm",
        )

    def filter_fresh(self, docs: DataFrame, batch_id: str) -> DataFrame:
        """Fresh rows of ``docs`` (same schema, minus NULL-canon rows and
        already-seen URLs), materialized; state is updated under the
        batch-id ledger. Calling again with the same ``batch_id`` returns
        the identical fresh set and leaves state untouched — the
        downstream replay contract.
        """
        if "canon_url" not in docs.columns:
            raise ValueError("docs must carry a canon_url column")
        if _SEEN_BATCH_COL in docs.columns:
            raise ValueError(
                f"docs must not carry the reserved column {_SEEN_BATCH_COL}"
            )
        batch = docs.where(F.col("canon_url").isNotNull())
        # in-batch refetch collapse: lowest id wins, deterministically —
        # a groupBy min-struct, not dropDuplicates (whose survivor depends
        # on partitioning)
        cols = [c for c in batch.columns if c != "canon_url"]
        winner = (
            batch.groupBy("canon_url")
            .agg(
                F.min(F.struct(self.id_col, *[c for c in cols if c != self.id_col]))
                .alias("w")
            )
            .select("canon_url", "w.*")
            .select(*docs.columns)
        )
        # the writer lock spans read→checkpoint→merge so a concurrent
        # frontier on the same state_dir cannot compact the version this
        # join is reading, and two writers serialize (the ingest-filter
        # locking discipline, merge/upsert.py writer_lock)
        with self.state.writer_lock():
            seen = self._seen()
            if seen is not None:
                joined = winner.join(seen, "canon_url", "left")
                fresh = joined.where(
                    F.col(_SEEN_BATCH_COL).isNull()
                    | (F.col(_SEEN_BATCH_COL) == F.lit(batch_id))
                ).select(*docs.columns)
            else:
                fresh = winner
            # materialize BEFORE the merge (hazard #2 in the module doc)
            fresh = fresh.localCheckpoint()
            self.state.merge(
                fresh.select(
                    "canon_url",
                    F.col(self.id_col).alias("first_doc"),
                    F.lit(batch_id).alias("first_batch"),
                ),
                batch_id=batch_id,
            )
        return fresh

    def _seen(self) -> DataFrame | None:
        """State's (canon_url, first_batch) with the batch column under a
        reserved alias, or None before the first commit. Only the
        not-yet-initialized case maps to None — a real state-read failure
        (transient I/O, corrupted commit) PROPAGATES: swallowing it would
        treat the whole frontier as empty and wave every already-seen URL
        through as fresh, the silent-refetch-retention failure the e2e
        test pins against (ADVICE r8 medium)."""
        if not self.state.exists():
            return None
        state = self.state.read()
        if "canon_url" not in state.columns:
            return None  # empty pre-first-commit table
        # reserved alias: a docs frame legitimately carrying a
        # 'first_batch'/'first_doc' column must not make the post-join
        # filter ambiguous or silently read the wrong side (ADVICE r8 low)
        return state.select(
            "canon_url", F.col("first_batch").alias(_SEEN_BATCH_COL)
        )

    def seen_urls(self) -> DataFrame:
        """Current frontier state: (canon_url, first_doc, first_batch)."""
        return self.state.read()
