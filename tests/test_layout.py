"""Z-order layout tests: these assert on per-file footer statistics and
per-cell ranges, not just results — a Z-ordered layout must narrow every
interleaved column's min/max range."""

from __future__ import annotations

from pyspark.sql import functions as F


def _file_ranges(path, cols):
    """Per-parquet-file (min, max) footer stats for each column."""
    import pyarrow.parquet as pq
    from pathlib import Path

    out = []
    for f in Path(path).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        mins = {c: None for c in cols}
        maxs = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                    maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
        out.append({c: (mins[c], maxs[c]) for c in cols})
    return out


def test_zorder_layout_narrows_both_dims(spark, tmp_path_factory):
    """Z-order interleave gives locally-narrow min/max footer ranges on
    EVERY interleaved column, where a single-column sort narrows only its
    own column — the property parquet min/max skipping prunes on."""
    from cruncher_spark.sources.layout import write_zordered

    wh = tmp_path_factory.mktemp("zorder")
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    write_zordered(grid, str(wh / "z"), ["x", "y"], bits=6, n_files=16)

    def avg_width(path, col):
        rs = _file_ranges(path, ["x", "y"])
        return sum((r[col][1] - r[col][0]) / 63.0 for r in rs) / len(rs)

    # 16 z-range files over a 64x64 grid => each file covers ~1/16 of the
    # area, so ~1/4 of each side
    assert avg_width(str(wh / "z"), "x") < 0.6
    assert avg_width(str(wh / "z"), "y") < 0.6

    # baseline: sorting by x alone leaves y ranges at full width
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(str(wh / "xsort"))
    )
    assert avg_width(str(wh / "xsort"), "x") < 0.2
    assert avg_width(str(wh / "xsort"), "y") > 0.9


def test_zorder_key_is_morton_interleave(spark):
    from cruncher_spark.sources.layout import zorder_key

    df = spark.createDataFrame([(3, 5)], "x long, y long").select(
        zorder_key(["x", "y"], bits=4).alias("z")
    )
    # x=0b0011, y=0b0101 -> interleave x bit i at 2i, y bit i at 2i+1:
    # bits: x0=1->b0, y0=1->b1, x1=1->b2, y1=0->b3, x2=0->b4, y2=1->b5
    expect = 0b100111
    assert df.collect()[0].z == expect


def test_binned_zcell_stats_show_locality(spark):
    """binned_zcell_stats' per-cell min/max really are narrow on BOTH
    dimensions (the pruning property), cells partition all rows, and the
    bin arithmetic survives non-zero-based, non-power-of-two domains."""
    from cruncher_spark.sources.layout import binned_zcell_stats

    n = 5000
    rows = spark.range(n).select(
        (F.col("id") * 7919 % 1000 + 100).alias("a"),      # 100..1099
        (F.col("id") * 104729 % 365 + 2000).alias("b"),    # 2000..2364
    )
    stats = binned_zcell_stats(rows, "a", "b", bits=6, cell_bits=3).collect()

    assert sum(r.n for r in stats) == n
    assert len(stats) <= 64  # 2**(2*cell_bits) cells max
    # each 8x8-supercell covers 1/8 of each axis plus bin rounding slack
    for r in stats:
        assert r.max_d1 - r.min_d1 <= 1000 / 8 + 1000 / 64 + 1, r
        assert r.max_d2 - r.min_d2 <= 365 / 8 + 365 / 64 + 1, r
