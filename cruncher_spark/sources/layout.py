"""Physical table layout for data skipping: Z-order clustering.

The reference's facts live in InnoDB with secondary indexes; its per-batch
``IN (:ids)`` predicate is served by index lookups (crunch_global.sql:63).
The columnar analog here is **Z-order** (``zorder_key``,
``write_zordered``): rows sorted on the Morton interleave of several
columns, so parquet footer min/max statistics prune scans filtered on any
of them. ``binned_zcell_stats`` measures that clustering and backs the
registered ``zorder_cells`` query.

The layout is verified by parquet footer-statistics assertions in
tests/test_layout.py, not just by results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[str | Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of ``cols`` as one JVM-expression sort
    key for multi-dimensional data skipping.

    Sorting by any ONE column gives perfect min/max pruning on that
    column and none on the others; interleaving the bits of several
    columns gives every column locally-narrow value ranges per file, so
    parquet footer min/max statistics prune scans filtered on ANY of the
    interleaved dimensions — the standard lakehouse answer (Delta
    ``OPTIMIZE ZORDER BY``) re-expressed as a plain column expression any
    writer can ``repartitionByRange``/``sortWithinPartitions`` on.

    Inputs must be non-negative and < 2**bits (clamp/rescale upstream;
    rank-transform for skewed domains). Pure shifts/masks — whole-stage
    codegen, no UDF.
    """
    n = len(cols)
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("long") for c in cols
    ]
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1).cast("long")),
                    i * n + j,
                )
            )
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-partitioned and sorted on the Z-order key of
    ``cols`` — one extra range exchange at write time buys min/max file
    skipping on every interleaved column for all subsequent scans."""
    z = zorder_key(list(cols), bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def binned_zcell_stats(
    df: DataFrame,
    c1: str | Column,
    c2: str | Column,
    bits: int = 6,
    cell_bits: int = 4,
) -> DataFrame:
    """Per-Morton-cell min/max/count statistics over two dimensions —
    the data-skipping evidence a Z-ordered write produces: each cell is
    a contiguous Z-key range (one file / file group after
    :func:`write_zordered`), and the narrow per-cell min/max of BOTH
    raw dimensions is exactly the parquet footer range a scan filtered
    on either column prunes against.

    Dimensions are fixed-width binned into ``2**bits`` buckets from
    their own min/max (one broadcast one-row aggregate — the same pass
    a writer makes anyway); ``cell_bits`` keeps the top ``2*cell_bits``
    interleaved bits, i.e. a ``2**cell_bits``-square grid. All
    arithmetic is long-exact except one IEEE double division per
    dimension (identical on every engine; quotient magnitudes keep it
    orders of magnitude away from a rounding boundary). Scale shape:
    one narrow projection + one grouped aggregate on the cell id —
    map-side combined, cardinality ``4**cell_bits``.
    """
    v1 = (F.col(c1) if isinstance(c1, str) else c1).cast("long")
    v2 = (F.col(c2) if isinstance(c2, str) else c2).cast("long")
    bounds = df.select(
        F.min(v1).alias("min1"),
        F.max(v1).alias("max1"),
        F.min(v2).alias("min2"),
        F.max(v2).alias("max2"),
    )
    n_bins = F.lit(2**bits)
    b1 = F.floor(
        (v1 - F.col("min1")) * n_bins / (F.col("max1") - F.col("min1") + 1)
    ).cast("long")
    b2 = F.floor(
        (v2 - F.col("min2")) * n_bins / (F.col("max2") - F.col("min2") + 1)
    ).cast("long")
    z = zorder_key([b1, b2], bits)
    cell = F.shiftright(z, 2 * (bits - cell_bits))
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(cell.alias("zcell"), v1.alias("v1"), v2.alias("v2"))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v1").alias("min_d1"),
            F.max("v1").alias("max_d1"),
            F.min("v2").alias("min_d2"),
            F.max("v2").alias("max_d2"),
        )
    )


def zcell_stats_oracle_sql(
    table: str, e1: str, e2: str, bits: int = 6, cell_bits: int = 4
) -> str:
    """DuckDB mirror of :func:`binned_zcell_stats` — the SAME shifts and
    bins generated as SQL from the same parameters (one definition, two
    engines, as the MinHash/LSH oracles)."""
    n_bins = 2**bits
    interleave = " | ".join(
        f"(((b{j} >> {i}) & 1) << {i * 2 + j - 1})"
        for i in range(bits)
        for j in (1, 2)
    )
    return f"""
    WITH vals AS (SELECT CAST({e1} AS BIGINT) AS v1, CAST({e2} AS BIGINT) AS v2 FROM {table}),
    bounds AS (SELECT min(v1) AS min1, max(v1) AS max1, min(v2) AS min2, max(v2) AS max2 FROM vals),
    binned AS (
      SELECT v1, v2,
        CAST(floor((v1 - min1) * {n_bins} / (max1 - min1 + 1)) AS BIGINT) AS b1,
        CAST(floor((v2 - min2) * {n_bins} / (max2 - min2 + 1)) AS BIGINT) AS b2
      FROM vals, bounds
    ),
    cells AS (SELECT v1, v2, ({interleave}) >> {2 * (bits - cell_bits)} AS zcell FROM binned)
    SELECT zcell, count(*) AS n,
      min(v1) AS min_d1, max(v1) AS max_d1,
      min(v2) AS min_d2, max(v2) AS max_d2
    FROM cells GROUP BY zcell
    """
