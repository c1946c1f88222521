from cruncher_spark.merge.merge_into import merge_as_select_sql
from cruncher_spark.merge.scd import scd2_history
from cruncher_spark.merge.upsert import MergePolicy, PointTable

__all__ = [
    "MergePolicy",
    "PointTable",
    "merge_as_select_sql",
    "scd2_history",
]
