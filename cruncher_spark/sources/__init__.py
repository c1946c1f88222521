from cruncher_spark.sources.tables import Star, fan_out, load_table
from cruncher_spark.sources.warc import read_warc, warc_documents

__all__ = [
    "Star",
    "fan_out",
    "load_table",
    "read_warc",
    "warc_documents",
]
