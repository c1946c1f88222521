from cruncher_spark.plans.registry import (
    QUERIES,
    oracle_map,
    query_map,
    register,
)

__all__ = [
    "QUERIES",
    "oracle_map",
    "query_map",
    "register",
]
