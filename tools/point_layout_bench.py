"""Merge latency of a served point table at a given state size.

Seeds a ``PointTable`` (default layout) with a synthetic 61-column point
table of ``70_000 x scale`` rows (10 int key columns, 51 measures), runs
one warm-up merge (which lets a sized layout grow), then times
``rounds`` merges of each delta shape:

- ``full``: ~1e4 keys, the width of a 1000-id crunch batch;
- ``ids10``: 100 keys, a 10-id ``POST /crunch``;
- ``ids1``: 10 keys, a one-id ``POST /crunch``.

About 90% of every delta's keys are already stored. The run prints one
JSON line: the bucket count, stored bytes, per-merge seconds of each
shape and the bytes/files the last merge of each shape wrote. Run it
against two checkouts to compare layouts:

    python tools/point_layout_bench.py --code . --scale 10 --cores 4 --rounds 4

``--scale 1`` stores ~2 MB, ``10`` ~15 MB and ``100`` ~140 MB of
parquet; the driver gets 3 GB of heap.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

SHAPES = {"full": 10_000, "ids10": 100, "ids1": 10}
KEYS = [f"k{i}" for i in range(10)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--code", default=".", help="checkout whose cruncher_spark to time")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=3)
    a = ap.parse_args()
    sys.path.insert(0, str(Path(a.code).resolve()))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cruncher_spark.merge.upsert import PointTable

    spark = (
        SparkSession.builder.master(f"local[{a.cores}]")
        .config("spark.sql.shuffle.partitions", str(a.cores))
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_rows = int(70_000 * a.scale)
    space = int(n_rows * 1.1)

    def frame(ids):
        h = F.abs(F.hash(F.col("id")) % 1000003)
        cols = [F.col("id").cast("int").alias("k0")]
        for i, m in enumerate([3, 5, 7, 11, 2, 4, 9, 13, 6], start=1):
            cols.append((F.col("id") % m).cast("int").alias(f"k{i}"))
        for j in range(51):
            if j % 3 == 0:
                col = ((h + j) % 5).cast("long")
            elif j % 3 == 1:
                col = F.lit(0).cast("long")
            else:
                col = F.when((h + j) % 17 == 0, (h % 1000) / 10.0).otherwise(0.0)
            cols.append(col.alias(f"m{j}"))
        return ids.select(*cols)

    def delta(k: int, off: int):
        step = max(space // k, 1)
        ids = spark.range(k).select(((F.col("id") * step + off) % space).alias("id"))
        return frame(ids)

    def files(pt):
        return {f: f.stat().st_ino for f in (pt._current_version() / "data").rglob("*.parquet")}

    work = Path(tempfile.mkdtemp(prefix="point_layout_bench-"))
    try:
        pt = PointTable(spark, str(work / "pt"), key=KEYS, retain_versions=2)
        pt.merge(frame(spark.range(n_rows)))
        pt.merge(delta(SHAPES["full"], 1), batch_id="warm")
        secs = {s: [] for s in SHAPES}
        wrote = {}
        for r in range(a.rounds):
            for s, k in SHAPES.items():
                before = set(files(pt).values())
                d = delta(k, 7 + 31 * r + k)
                t = time.perf_counter()
                pt.merge(d, batch_id=f"{s}-{r}")
                secs[s].append(round(time.perf_counter() - t, 3))
                new = [f for f, ino in files(pt).items() if ino not in before]
                wrote[s] = [sum(f.stat().st_size for f in new), len(new)]
        cur = pt._current_version()
        rec = {
            "code": str(Path(a.code).resolve()),
            "scale": a.scale,
            "cores": a.cores,
            "buckets": json.loads((cur / "meta.json").read_text())["num_buckets"],
            "state_bytes": PointTable._parquet_bytes(cur / "data"),
            **{f"{s}_s": statistics.median(v) for s, v in secs.items()},
            **{f"{s}_all": v for s, v in secs.items()},
            **{f"{s}_write": wrote[s] for s in SHAPES},
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
