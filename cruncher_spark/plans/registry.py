"""Query registry: named (spark_fn, oracle_sql) pairs.

Each registered query is one operator family from SURVEY.md §2, expressed
Spark-first over the driver's star-schema test tables, with an ANSI-SQL
oracle DuckDB runs on the same parquet for the correctness gate. Column
names are aliased identically on both sides (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


#: the driver's correctness gate runs oracles at this scale factor
ORACLE_SF_DIR = "/root/testdata/sf0.01"


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    #: str → static ANSI SQL; callable(sf_dir) → SQL generated against the
    #: gate's data (used when the plan embeds data-fitted literals, e.g.
    #: k-means IVF centroids); None → non-SQL-expressible, rows-only check
    oracle: str | Callable[[str], str] | None
    doc: str = ""


QUERIES: dict[str, Query] = {}

#: total registered queries across all plan modules. _load_all() asserts
#: this after importing, so a silently-shrunken registry (a plan module
#: failing to import for an environmental reason a bare `import` would
#: surface but a guarded one would swallow) can never green-light the
#: surviving subset — round 3 was burned by exactly that drift class.
#: Bump in the same commit that registers/removes a query.
EXPECTED_QUERY_COUNT = 134


def register(name: str, oracle: str | Callable[[str], str] | None, doc: str = ""):
    """Decorator: add a (spark, oracle) pair to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def query_map() -> dict[str, SparkQuery]:
    _load_all()
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_map(sf_dir: str = ORACLE_SF_DIR) -> dict[str, str]:
    _load_all()
    return {
        name: (q.oracle(sf_dir) if callable(q.oracle) else q.oracle)
        for name, q in QUERIES.items()
        if q.oracle is not None
    }


def _load_all() -> None:
    """Import every plan module for its registration side effects.

    Imports are deliberately unguarded: a failing plan module must raise,
    not silently shrink the registry (VERDICT r4 "What's wrong" #2).
    """
    from cruncher_spark.plans import (  # noqa: F401
        analytics_queries,
        crunch_queries,
        multimodal_queries,
        pipeline_queries,
        star_queries,
    )

    if len(QUERIES) != EXPECTED_QUERY_COUNT:
        raise RuntimeError(
            f"query registry holds {len(QUERIES)} entries, expected "
            f"{EXPECTED_QUERY_COUNT}; a plan module lost registrations "
            "(or EXPECTED_QUERY_COUNT was not bumped with a new query)"
        )
