"""Slowly-changing-dimension (SCD Type 2) history building.

The reference's merge layer is Type-1 (``ON DUPLICATE KEY UPDATE``
overwrites in place — crunch_global.sql:68-87 analog in merge/upsert.py);
a warehouse deployment that needs *as-of* dimension lookups keeps Type-2
history instead: one row per (key, attribute-value run) with a validity
interval. This module derives that history from an ordered change feed in
one pass — the standard Kimball SCD2 shape, expressed as two window
functions over a single hash shuffle.

Scale: both windows partition on the dimension key, so the whole
computation is ONE exchange + one in-partition sort (Catalyst reuses the
sort for both window frames); per-key state is bounded by that key's
change count. No self-join, no driver-side loop. The resulting history
table joins facts with the as-of pattern (`operators/joins.py asof_join`)
or a `valid_from <= ts < valid_to` interval join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    changes: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Collapse an ordered change feed into SCD Type-2 version rows.

    ``changes`` has one row per observation (key, attr, ts, tiebreak);
    consecutive observations with the SAME attribute value merge into one
    version (Kimball: a new row only on change). Output per version:
    (key, attr value, valid_from = first observation of the run,
    valid_to = start of the next run or NULL, version number, is_current).

    ``tiebreak`` makes the within-timestamp order deterministic — two
    same-instant observations with different values produce the same
    history on every engine.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    runs = changes.withColumn("_prev", F.lag(attr).over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr))
    )
    return runs.select(
        key,
        attr,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead(ts).over(w).isNull().alias("is_current"),
    )

