"""Tiny-size check of the table generator: on generated tables the Spark
global delta equals the DuckDB rendering of the reference script.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402


@pytest.fixture(scope="module")
def tables_dir(tmp_path_factory):
    return gen.ensure_tables(tmp_path_factory.mktemp("gen"), 600, 50, seed=7)


def test_generation_is_deterministic_and_cached(tables_dir):
    a = gen.generate_tables(600, 50, seed=7)
    b = gen.generate_tables(600, 50, seed=7)
    assert all(a[n].equals(b[n]) for n in a)
    assert not gen.generate_tables(600, 50, seed=8)["participant"].equals(a["participant"])
    assert gen.ensure_tables(tables_dir.parent, 600, 50, seed=7) == tables_dir


def test_generated_domains(tables_dir):
    import pyarrow.parquet as pq

    p = pq.read_table(tables_dir / "participant.parquet").to_pydict()
    n = len(p["api_id"])
    assert n == 600
    assert 99 in p["hero_id"] and "cn" in p["shard_id"]
    nulls = sum(w is None for w in p["winner"]) / n
    assert 0.03 < nulls < 0.15
    items = pq.read_table(tables_dir / "participant_items.parquet").num_rows
    assert 0.7 < items / n < 0.9


def test_global_delta_matches_reference_sql(tables_dir):
    import duckdb
    from pyspark.sql import functions as F

    from cruncher_spark.plans.crunch import crunch_global_delta
    from cruncher_spark.plans.reference_oracles import crunch_global_sql
    from cruncher_spark.schemas import ALL_TABLES
    from cruncher_spark.session import get_spark
    from cruncher_spark.worker import load_tables

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    spark = get_spark("perfbench-test-gen")
    try:
        tables = load_tables(spark, str(tables_dir))
        batch = [r.api_id for r in tables["participant"].select("api_id").limit(300).collect()]
        delta = crunch_global_delta(
            tables, batch, now=F.lit("2026-08-10 12:00:00").cast("timestamp")
        ).drop("updated_at")
        con = duckdb.connect()
        for name in ALL_TABLES:
            con.execute(
                f"CREATE VIEW \"{name}\" AS SELECT * FROM read_parquet('{tables_dir}/{name}.parquet')"
            )
        oracle = con.execute(crunch_global_sql(batch, [14, 22, 31]))
        cols = [d[0] for d in oracle.description]
        expected = sorted(map(tuple, oracle.fetchall()))
        actual = sorted(tuple(r) for r in delta.select(*cols).collect())
        assert len(actual) > 100
        assert actual == expected
    finally:
        spark.stop()
