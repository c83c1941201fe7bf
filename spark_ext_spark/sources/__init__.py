"""Source/sink helpers.

The reference's only I/O is hand-rolled CSV parsing in the example app
(SparkMlExtExample.scala:168-173,195-200,218-223) and CSV writes in the
generator (DataGenerator.scala:18-33). Here that surface is the stock
Spark readers with the engine's normalizations applied, plus
scale-aware write helpers.
"""

from spark_ext_spark.sources.io import (  # noqa: F401
    ensure_fanout, local_frame, read_csv, read_json, read_parquet,
    read_table, write_csv, write_json, write_parquet)
