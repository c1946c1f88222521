"""Pre-flight smoke: analyze + execute every registered query at sf0.001.

Round 3 shipped with a gate that failed *analysis* (TIMESTAMP_NTZ drift in
regenerated testdata reached ``unix_micros`` unnormalized) because nothing
cheap re-validated the full query surface after the environment changed.
This tool is that validation: for every ``query_map()`` entry it builds the
plan (catches AnalysisException) and forces execution into Spark's
``noop`` sink (catches runtime errors) at the smallest scale factor —
seconds, not minutes. The sink computes every output column, as
``collect()`` does; ``.count()`` would let the optimizer prune columns
and skip the expressions that raise (a division by zero in a ratio
column passes a count). The row count is read from an observed metric
of the same run. Run it before ending any round; a red row here means a
red driver gate later.

Usage: python tools/preflight.py [sf_dir] [query ...]
Exit code: 0 iff every query analyzed and executed.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cruncher_spark.plans import oracle_map, query_map
from cruncher_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or None
    if not Path(sf_dir).is_dir():
        print(
            f"error: {sf_dir!r} is not a directory — the first argument "
            "is the sf_dir; query names come after it"
        )
        return 2

    qmap = query_map()
    omap = oracle_map()
    if names:
        unknown = [n for n in names if n not in qmap]
        if unknown:
            print(f"error: unknown queries: {', '.join(unknown)}")
            print(f"registered: {', '.join(qmap)}")
            return 2
        qmap = {n: qmap[n] for n in names}

    spark = get_spark("cruncher-preflight")
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = []
    for name, fn in qmap.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            schema = df.schema.simpleString()  # forces analysis
            obs = Observation(f"preflight_{name}")
            (
                df.observe(obs, F.count(F.lit(1)).alias("rows"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )  # forces execution of every column
            n = obs.get["rows"]
        except Exception as exc:  # noqa: BLE001 - report every failure
            failures.append(name)
            msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:160]
            print(f"{name:28s} FAIL  {msg}")
            continue
        dt = time.perf_counter() - t0
        oracle = "sql-oracle" if name in omap else "rows-only"
        print(f"{name:28s} ok    rows={n:<8d} {dt:5.1f}s  {oracle}")
        _ = schema
    spark.stop()

    total = len(qmap)
    print(f"\npreflight: {total - len(failures)}/{total} queries ok", end="")
    if failures:
        print(f"  FAILED: {', '.join(failures)}")
        return 1
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
