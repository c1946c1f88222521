"""Streaming shell: the worker.js event loop as Structured Streaming.

One ``CrunchWorker`` ≈ one deployed reference worker (worker.js:23-24's
QUEUE/SCRIPT parameterization): a stream of fact keys, a plan builder, a
point table. The reference's per-message guards and commit protocol map
to (SURVEY.md §2.1, §2.7):

- the batch's id column is collected to the driver once, and the three
  per-message guards run there in Python, in the reference's order; the
  plan builder gets the surviving ids as a list, inlined as one
  ``IN (…)`` predicate (the reference's ``IN (:ids)``, crunch_global.sql:63)
- poison filter (>1024-byte message NACKed, worker.js:129-137)
  → UTF-8 byte-length filter routing to the quarantine sink
- RELIABILITY sampling (worker.js:139-143) → one ``random.Random(batch_id)``
  draw per id, so a replayed batch keeps the same sample — and like the
  reference, sums are *not* scaled up (documented load-shed semantics)
- in-batch dedup via Set (worker.js:121,145) → ``dict.fromkeys`` (first
  occurrence order)
- count-or-timeout micro-batch (1000 ids / 5 s, worker.js:29-30)
  → ``trigger(processingTime=...)`` + ``maxFilesPerTrigger`` rate cap;
  Spark itself has no exact count-OR-time trigger, but the AMQP bridge
  restores the EXACT semantics upstream: ``AmqpClient.consume(...,
  timeout_s=LOAD_TIMEOUT)`` flushes each landed batch file at BATCHSIZE
  messages or the deadline, whichever first, and ``maxFilesPerTrigger=1``
  then makes one micro-batch == one reference batch
- at-least-once + DLQ (worker.js:167-182) → try/except in foreachBatch
  appending failed batch keys to the quarantine table — only when the
  merge ledger does not hold the batch: a failure after the commit (the
  notify write) re-raises instead, so the source replays the batch
- ACK→notify (worker.js:183-190) → one (routing_key, event) file per
  ledger id in the notify sink, written after the merge when missing — a
  replayed batch the ledger skips still gets its notify
- replay double-count fixed: the merge ledger keys on batch_id
  (merge/upsert.py), so redelivered batches are idempotent.

Sources: the pipeline from the source DataFrame onward is source-agnostic
(``_start_stream``). Tests use the file source (a directory of id files);
``start_kafka_stream`` is the production analog of the reference's AMQP
consume (worker.js:59-70,127-149): ``format("kafka")`` with
``maxOffsetsPerTrigger`` as the prefetch/backpressure bound and the
record ``value`` decoded from bytes exactly like the reference reads the
message body. The sandbox has no broker or kafka connector jar, so the
Kafka branch is integration-tested by driving the identical decode +
pipeline over a Kafka-SHAPED stream (same columns/types as the kafka
source) fed from files — see tests/test_merge_streaming.py.

RabbitMQ/AMQP deployments (the reference's literal broker): Spark has no
first-party AMQP structured-streaming source, and that is deliberate —
AMQP's per-message ack model has no replayable offsets, so a crashed
micro-batch cannot be re-read from the broker and exactly-once degrades
to at-most/at-least-once at the source. The standard production recipe
is a *bridge*: a thin consumer (or an off-the-shelf
shovel/connector) republishes queue messages into a replayable log —
Kafka topic, or simply files in a landing directory, both of which this
worker already consumes — and the ack happens on publish. That keeps
the broker contract (the reference ACKs after commit, worker.js:167-182)
while giving Spark the replayable source its checkpointing needs; the
``batch_id`` merge ledger then upgrades the end-to-end guarantee to
exactly-once regardless of bridge redelivery. Both bridge targets run
through the SAME ``_start_stream`` pipeline, so no query or sink code
changes between file, Kafka, or bridged-AMQP deployments.
"""

from __future__ import annotations

import os
import random
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.merge.upsert import MergePolicy, PointTable

#: (tables, the batch's ids) → the delta. The worker passes a list of
#: ids; the native builders also accept a one-column DataFrame of ids.
PlanFn = Callable[[Mapping[str, DataFrame], list], DataFrame]

#: poison-message bound: ids longer than this in UTF-8 bytes are
#: quarantined, never crunched (worker.js:129-137 NACKs messages over 1 KiB)
MAX_MESSAGE_BYTES = 1024


def checkpoint_stream_id(checkpoint_dir: str) -> str:
    """Stream identity pinned to the checkpoint's LIFETIME, not its path.

    A marker file inside the checkpoint dir holds an id minted at first
    start; deleting the checkpoint (the reprocess-from-scratch gesture)
    deletes the marker too, so the recreated stream gets a FRESH ledger
    scope and its restarted epochs can never collide with already-applied
    ids. (A hash of the checkpoint path — the previous scheme — reused
    the same scope after recreation and silently dropped the first N
    replayed batches as duplicates.)
    """
    p = Path(checkpoint_dir) / ".cruncher-stream-id"
    p.parent.mkdir(parents=True, exist_ok=True)
    if p.exists():
        return p.read_text().strip()
    # ADVICE r5: a PRE-EXISTING checkpoint without the marker is a
    # pre-upgrade (legacy) checkpoint whose ledger holds BARE epoch ids.
    # Minting a fresh scope here would resume it under new ledger ids and
    # re-apply the last uncommitted epoch into ADD-folded state (silent
    # double count). A checkpoint that has ever run a batch always has
    # offsets/ (commits/ after the first commit) — detect that shape and
    # fail loudly instead of silently minting.
    base = Path(checkpoint_dir)
    legacy = [
        d for d in ("offsets", "commits", "metadata") if (base / d).exists()
    ]
    if legacy:
        raise RuntimeError(
            f"checkpoint {checkpoint_dir!r} predates stream-id scoping "
            f"(has {', '.join(legacy)} but no .cruncher-stream-id marker). "
            "Resuming it under a fresh scope would replay the last "
            "uncommitted epoch with a new ledger id and double-apply it. "
            "Delete the checkpoint (and let the ledger dedup the replay "
            "within one scope) to reprocess from scratch, or pass an "
            "explicit stream_id= to adopt a scope deliberately."
        )
    sid = uuid.uuid4().hex[:12]
    tmp = p.with_name(p.name + ".tmp")
    tmp.write_text(sid)
    os.replace(tmp, p)
    return sid


def start_foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    bind: Callable[[str], Callable[[DataFrame, int], None]],
    *,
    stream_id: str | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
):
    """Start ``stream`` into a checkpointed ``foreachBatch`` sink.

    ``bind(sid)`` returns the batch handler for the stream's ledger scope
    ``sid`` — ``stream_id`` if given, else the checkpoint's own
    (:func:`checkpoint_stream_id`); each caller keeps its own ledger id
    format over it. ``available_now`` drains pending input and stops;
    otherwise ``trigger_seconds`` sets a processing-time trigger (None:
    Spark's default, next batch as soon as the last one ends).
    """
    Path(checkpoint_dir).mkdir(parents=True, exist_ok=True)
    sid = stream_id or checkpoint_stream_id(checkpoint_dir)
    writer = stream.writeStream.foreachBatch(bind(sid)).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def served_point_table(
    spark: SparkSession,
    path: str,
    key: Sequence[str],
    policies: Mapping[str, MergePolicy],
) -> PointTable:
    """A crunch view's point table, as both the worker and the API build
    it. It retains two versions: a ``read()`` planned before a merge lists
    the version it saw, and that version must survive the next commit so
    the read still collects (web-tier reads race the worker's merges)."""
    return PointTable(spark, path, key=key, policies=policies, retain_versions=2)


class CrunchWorker:
    def __init__(
        self,
        spark: SparkSession,
        tables: Mapping[str, DataFrame],
        plan_fn: PlanFn,
        point: PointTable,
        *,
        reliability: float = 1.0,
        quarantine_dir: str | None = None,
        notify_dir: str | None = None,
        notify_routing_key: str | None = None,
        slowmode_seconds: float = 0.0,
        stream_id: str | None = None,
    ):
        self.spark = spark
        self.tables = tables
        self.plan_fn = plan_fn
        self.point = point
        self.reliability = reliability
        self.quarantine_dir = quarantine_dir
        self.notify_dir = notify_dir
        self.notify_routing_key = notify_routing_key
        self.slowmode_seconds = slowmode_seconds
        #: ledger scope for batch ids (same contract as
        #: materialize.start_stream_refresh): defaults to a marker minted
        #: inside the checkpoint dir at first stream start
        #: (:func:`checkpoint_stream_id`), so two streams feeding one
        #: PointTable — or a deleted-and-recreated checkpoint whose epochs
        #: restart at 0 — never collide with already-applied ids and get
        #: silently dropped as duplicates. Pass explicitly to pin identity
        #: across checkpoint moves (or to deliberately share a scope).
        #: NB: ledgers written before stream scoping existed hold bare
        #: epoch ids — reset such checkpoints rather than resuming them
        #: under a new scope, or the replayed last batch re-applies under
        #: its new id.
        self.stream_id = stream_id
        self.batches_processed = 0
        self.batches_failed = 0

    def _ledger_id(self, batch_id: int) -> str:
        if self.stream_id is not None:
            return f"stream-{self.stream_id}-{batch_id}"
        return str(batch_id)

    # -- one micro-batch (the foreachBatch body) ----------------------------

    def process_batch(self, ids_df: DataFrame, batch_id: int) -> None:
        # T3 SLOWMODE throttle (worker.js:31-32,162-165)
        if self.slowmode_seconds > 0:
            time.sleep(self.slowmode_seconds)
        col = ids_df.columns[0]
        values = [r[0] for r in ids_df.select(col).collect() if r[0] is not None]

        # S7 poison-message guard (worker.js:129-137), measured in bytes
        sizes = [len(str(v).encode("utf-8")) for v in values]
        poisoned = [v for v, n in zip(values, sizes) if n > MAX_MESSAGE_BYTES]
        ids = [v for v, n in zip(values, sizes) if n <= MAX_MESSAGE_BYTES]
        if poisoned and self.quarantine_dir is not None:
            self._append_quarantine(poisoned, batch_id, reason="poison")

        # P2 reliability sampling (worker.js:139-143; uncompensated)
        if self.reliability < 1.0:
            rng = random.Random(batch_id)
            ids = [v for v in ids if rng.random() < self.reliability]

        # P6 in-batch dedup (worker.js:121,145)
        ids = list(dict.fromkeys(ids))

        lid = self._ledger_id(batch_id)
        try:
            if ids or not self.point.exists():
                self.point.merge(self.plan_fn(self.tables, ids), batch_id=lid)
            else:
                # no id survived the guard and the sample: nothing to
                # fold, so record the batch without rewriting the state
                self.point.record_batch(lid)
            self.batches_processed += 1
            if self.notify_dir is not None:
                self._append_notify(batch_id)
        except Exception:
            if lid in self.point.applied_batches():
                # committed: the ids are crunched, so they are not failed.
                # Re-raise so the source replays the batch; the replay is a
                # ledger no-op that writes the missing notify.
                raise
            # T4/S5: failed batch → DLQ, stream continues (the reference
            # republishes to QUEUE+"_failed" and NACKs)
            self.batches_failed += 1
            if self.quarantine_dir is None:
                raise
            self._append_quarantine(ids, batch_id, reason="crunch_failed")

    # -- sinks --------------------------------------------------------------
    # Driver-side pyarrow, not Spark jobs: each write is a few driver-local
    # rows, and a python-list createDataFrame write pays a Python-worker
    # spawn per cold core (~3.5 s at local[32] — see merge/upsert.py
    # applied_batches). The files stay Spark-readable parquet.

    def _append_quarantine(self, ids: list, batch_id: int, reason: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not ids:
            return
        out = Path(self.quarantine_dir)
        out.mkdir(parents=True, exist_ok=True)
        n = len(ids)
        table = pa.table(
            {
                "value": pa.array([str(v) for v in ids], pa.string()),
                "batch_id": [str(batch_id)] * n,
                "reason": [reason] * n,
                "quarantined_at": pa.array(
                    [time.time_ns() // 1000] * n, pa.timestamp("us", tz="UTC")
                ),
            }
        )
        # a hidden temp name, then a rename: readers never list a partial file
        name = f"{reason}-{self._ledger_id(batch_id)}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = out / f".{name}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, out / name)

    def _append_notify(self, batch_id: int) -> None:
        # S6: "crunch_update" to the topic exchange (worker.js:184-190).
        # One file per ledger id: a replay of a committed batch writes it
        # only when it is missing, so the write is idempotent.
        import pyarrow as pa
        import pyarrow.parquet as pq

        Path(self.notify_dir).mkdir(parents=True, exist_ok=True)
        lid = self._ledger_id(batch_id)
        path = Path(self.notify_dir) / f"notify-{lid}.parquet"
        if path.exists():
            return
        pq.write_table(
            pa.table(
                {
                    "routing_key": [self.notify_routing_key or "global"],
                    "event": ["crunch_update"],
                    "batch_id": [lid],
                }
            ),
            path,
        )

    # -- stream wiring ------------------------------------------------------

    def _start_stream(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        *,
        trigger_seconds: float | None = None,
        available_now: bool = False,
    ):
        """Source-agnostic tail of the pipeline: any single-value-column
        stream → guarded/sampled/deduped foreachBatch merge."""

        def bind(sid: str):
            self.stream_id = sid
            return self.process_batch

        return start_foreach_batch(
            stream,
            checkpoint_dir,
            bind,
            stream_id=self.stream_id,
            trigger_seconds=trigger_seconds,
            available_now=available_now,
        )

    def start_file_stream(
        self,
        ids_dir: str,
        checkpoint_dir: str,
        *,
        trigger_seconds: float | None = None,
        max_files_per_trigger: int | None = None,
        available_now: bool = False,
    ):
        """Consume id files from a directory (one id per line).

        ``max_files_per_trigger`` bounds in-flight work like the
        reference's AMQP prefetch (worker.js:126-127); the processing-time
        trigger is the LOAD_TIMEOUT analog (worker.js:30).
        """
        reader = self.spark.readStream.format("text")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return self._start_stream(
            reader.load(ids_dir),
            checkpoint_dir,
            trigger_seconds=trigger_seconds,
            available_now=available_now,
        )

    # -- Kafka source (S1 production path) ----------------------------------

    @staticmethod
    def decode_kafka_values(stream: DataFrame) -> DataFrame:
        """Kafka record → message body, the worker.js:145 ``msg.content``
        read: the binary ``value`` column decoded as UTF-8. Works on any
        DataFrame with the kafka source's schema (key/value binary +
        topic/partition/offset/timestamp metadata)."""
        return stream.select(F.col("value").cast("string").alias("value"))

    def kafka_reader(
        self,
        bootstrap_servers: str,
        topic: str,
        *,
        max_offsets_per_trigger: int | None = 1000,
        starting_offsets: str = "earliest",
    ):
        """The configured ``format("kafka")`` reader (S1, worker.js:59-70).

        ``maxOffsetsPerTrigger`` bounds in-flight records per micro-batch —
        the AMQP ``prefetch(BATCHSIZE)`` backpressure analog
        (worker.js:126-127, default 1000 like BATCHSIZE).
        """
        reader = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        return reader

    def start_kafka_stream(
        self,
        bootstrap_servers: str,
        topic: str,
        checkpoint_dir: str,
        *,
        trigger_seconds: float | None = 5.0,
        max_offsets_per_trigger: int | None = 1000,
        starting_offsets: str = "earliest",
        available_now: bool = False,
    ):
        """Consume fact ids from a Kafka topic — the reference's queue
        consume (worker.js:127-149) with the 5 s LOAD_TIMEOUT as the
        default trigger. Requires the spark-sql-kafka connector on the
        classpath (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13``).
        """
        stream = self.kafka_reader(
            bootstrap_servers,
            topic,
            max_offsets_per_trigger=max_offsets_per_trigger,
            starting_offsets=starting_offsets,
        ).load()
        return self._start_stream(
            self.decode_kafka_values(stream),
            checkpoint_dir,
            trigger_seconds=trigger_seconds,
            available_now=available_now,
        )
