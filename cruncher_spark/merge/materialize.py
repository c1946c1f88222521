"""Incremental materialized views: self-maintainable aggregates kept
fresh at O(batch) cost.

The reference maintains six hand-wired aggregate tables through
``INSERT .. ON DUPLICATE KEY UPDATE`` (crunch_global.sql:68-87) — each
measure's merge rule chosen by hand. This module generalizes that: give
it group keys and measures, and it DERIVES the merge rules from the
aggregate algebra (the classic self-maintainability decomposition of the
view-maintenance literature — distributive aggregates merge directly,
algebraic ones decompose into distributive parts):

- ``sum`` / ``count`` → ADD_NULLSAFE (distributive; a NULL partial is
  the merge identity, matching SQL SUM)
- ``min`` / ``max``   → LEAST / GREATEST (distributive; the null-aware
  policies, so an all-NULL batch slice never shadows a real extreme —
  append-only sources only: neither inverts under deletes)
- ``avg``             → decomposed into a hidden (sum, count)
  ADD_NULLSAFE pair, reconstituted as ``sum/count`` at read time
  (algebraic)

Holistic aggregates (median, exact distinct) are rejected — they are not
self-maintainable; the engine's mergeable-sketch columns (HLL,
fixed-histogram quantiles, count-min) are the scale path for those.

Each ``refresh`` aggregates ONLY the new rows (partial aggregate, one
shuffle of the batch) and folds the result into a ``PointTable`` — so
view freshness costs O(batch · touched-buckets), never O(history), and
the batch-id ledger makes replayed refreshes idempotent end-to-end. The
view's table sizes its own layout: it starts at one bucket, so a small
view's refresh runs no bucket discovery and no bucket exchange, and grows
with the state (``PointTable._grow_layout``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cruncher_spark.merge.upsert import MergePolicy, PointTable

_DISTRIBUTIVE = {
    # ADD_NULLSAFE, not ADD: SUM over an all-NULL batch slice yields a
    # NULL partial, which must be the merge identity (SQL SUM semantics),
    # not the MySQL NULL-poisoning add the reference parity path keeps
    "sum": MergePolicy.ADD_NULLSAFE,
    "count": MergePolicy.ADD_NULLSAFE,
    "min": MergePolicy.LEAST,
    "max": MergePolicy.GREATEST,
}


@dataclass(frozen=True)
class Measure:
    """One maintained aggregate: ``agg`` over SQL expression ``expr``."""

    agg: str
    expr: str

    def __post_init__(self):
        if self.agg not in (*_DISTRIBUTIVE, "avg"):
            raise ValueError(
                f"aggregate {self.agg!r} is not self-maintainable; "
                "use the sketch operators for holistic aggregates"
            )


def _partial(m: Measure, name: str) -> list[tuple[str, Column]]:
    """(column, expression) pairs of the partial aggregate for one measure."""
    e = F.expr(m.expr)
    if m.agg == "sum":
        return [(name, F.sum(e))]
    if m.agg == "count":
        return [(name, F.count(e))]
    if m.agg == "min":
        return [(name, F.min(e))]
    if m.agg == "max":
        return [(name, F.max(e))]
    # avg → algebraic decomposition
    return [(f"__{name}_sum", F.sum(e)), (f"__{name}_cnt", F.count(e))]


class IncrementalView:
    """A PointTable-backed materialized aggregate over an append-only
    source. ``measures`` maps output column name → :class:`Measure`."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        measures: Mapping[str, Measure],
    ):
        self.keys = list(keys)
        self.measures = dict(measures)
        policies: dict[str, MergePolicy] = {}
        for name, m in self.measures.items():
            if m.agg == "avg":
                policies[f"__{name}_sum"] = MergePolicy.ADD_NULLSAFE
                policies[f"__{name}_cnt"] = MergePolicy.ADD_NULLSAFE
            else:
                policies[name] = _DISTRIBUTIVE[m.agg]
        self.point = PointTable(spark, path, key=self.keys, policies=policies)

    def delta(self, batch: DataFrame) -> DataFrame:
        """Partial aggregate of ONE batch of new rows (a single shuffle
        of batch-sized data; map-side combine applies)."""
        aggs = [
            col.alias(cname)
            for name, m in self.measures.items()
            for cname, col in _partial(m, name)
        ]
        return batch.groupBy(*self.keys).agg(*aggs)

    def refresh(self, batch: DataFrame, batch_id: str | None = None) -> bool:
        """Fold a batch of new source rows into the view. Idempotent per
        ``batch_id`` (PointTable ledger) — safe under redelivery."""
        return self.point.merge(self.delta(batch), batch_id=batch_id)

    def retract(self, batch: DataFrame, batch_id: str | None = None) -> bool:
        """Remove a batch of previously-ingested rows from the view — the
        deletion half of classic incremental view maintenance, valid only
        for INVERTIBLE aggregates (sum/count/avg: merge the NEGATED
        partial). min/max are not invertible (the retracted row might BE
        the extreme) — views containing them must rebuild instead, and
        this method refuses them up front.

        A fully-retracted group remains as a zero-count row (the merge
        layer has no delete-on-zero hook); ``read()`` already yields NULL
        means for such groups, and downstream consumers filter ``n > 0``
        when absence semantics matter.
        """
        bad = [n for n, m in self.measures.items() if m.agg in ("min", "max")]
        if bad:
            raise ValueError(
                f"min/max measures are not invertible: {bad}; "
                "rebuild the view to retract"
            )
        delta = self.delta(batch)
        negated = delta.select(
            *self.keys,
            *[
                (-F.col(c)).alias(c)
                for c in delta.columns
                if c not in self.keys
            ],
        )
        return self.point.merge(negated, batch_id=batch_id)

    def read(self) -> DataFrame:
        """Current view contents; avg columns reconstituted as
        sum/count (NULL for all-NULL groups, matching plain AVG)."""
        df = self.point.read()
        out: list[Column] = [F.col(k) for k in self.keys]
        for name, m in self.measures.items():
            if m.agg == "avg":
                s, c = F.col(f"__{name}_sum"), F.col(f"__{name}_cnt")
                out.append(
                    F.when(c > 0, s.cast("double") / c).alias(name)
                )
            else:
                out.append(F.col(name))
        return df.select(out)


def start_stream_refresh(
    view: IncrementalView,
    rows: DataFrame,
    checkpoint_dir: str,
    *,
    stream_id: str | None = None,
    available_now: bool = False,
    trigger_seconds: float | None = None,
):
    """Continuous aggregate (the hypertable-rollup shape): keep an
    IncrementalView fresh from a streaming source.

    Key the view on a time bucket (e.g. ``window(ts, '1 hour').start`` or
    ``date_trunc``) plus dimensions and this is TimescaleDB's continuous
    aggregate / a streaming rollup — except the state is a versioned,
    time-travelable PointTable and the foreachBatch + batch-id ledger
    pair makes the refresh exactly-once under redelivery. Late rows are
    handled by construction: a late row's partial simply merges into its
    (old) bucket — no watermark-driven state eviction is needed because
    per-bucket state is O(1) mergeable aggregate state, not buffered rows.

    Ledger batch ids are ``stream-<stream_id>-<epoch>``; ``stream_id``
    defaults to a marker minted INSIDE the checkpoint dir at first start
    (:func:`cruncher_spark.streaming.worker.checkpoint_stream_id`), so
    TWO streams feeding one view never collide on epoch numbers — and
    DELETING a checkpoint while keeping the view mints a fresh scope for
    the recreated stream, so its restarted epochs re-apply instead of
    being silently dropped as duplicates of the previous run's.
    """
    from cruncher_spark.streaming.worker import start_foreach_batch

    return start_foreach_batch(
        rows,
        checkpoint_dir,
        lambda sid: lambda df, bid: view.refresh(df, batch_id=f"stream-{sid}-{bid}"),
        stream_id=stream_id,
        trigger_seconds=trigger_seconds,
        available_now=available_now,
    )
