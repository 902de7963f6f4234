"""SparkSession factory with the engine's standard configuration.

Scale posture (tested on local[N], designed for 1000 executors):
  * AQE on — runtime coalescing + skew-join splitting backstop the
    explicit salting policy (SURVEY.md §4 item 1).
  * Arrow on — every pandas UDF moves data in columnar batches.
  * UTC session timezone — index-day routing (R3) and the DuckDB
    oracles agree on instants.
  * shuffle partitions scale with cores locally; on a real cluster set
    ``spark.sql.shuffle.partitions`` ≈ 2-3× total cores (or rely on
    AQE coalescing from a high initial value).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def get_spark(
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    app_name: str = "fluent-plugin-opensearch-spark",
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the ``local[cores]`` default — e.g.
    ``local-cluster[4,8,11264]`` for true multi-executor evidence runs."""
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    b = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], ddl_schema: str) -> DataFrame:
    """``rows`` (tuples in ``ddl_schema`` column order) as a DataFrame with
    the names, types and nullability of ``createDataFrame(rows, ddl_schema)``.

    ``createDataFrame(list)`` is banned in product code: classic PySpark
    makes it a Python RDD, so every plan or broadcast over it forks Python
    workers to unpickle a few rows. A ``pyarrow.Table`` typed from the
    Spark schema is decoded in the JVM into a ``LocalRelation`` instead.
    Not a pandas frame: it fails on zero rows and can silently fall back
    to the Python-RDD path."""
    schema = DataType.fromDDL(ddl_schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
