"""Batch readers for the driver's parquet tables.

Scale notes: every reader passes an explicit schema-compatible projection and
leaves filters to the caller so Catalyst can push predicates and prune columns
down to the parquet scan. At 100 TB the tables would be date-partitioned
directories; ``spark.read.parquet`` on a partitioned root gives partition
pruning for free — nothing here assumes a single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs
from .sinks import SINK_SCHEMA

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; normalizes nanosecond parquet timestamps.

    ``build_sizes`` is the sink ``/update`` writes
    (:mod:`.sinks`): it is read with the sink's known schema,
    :data:`.sinks.SINK_SCHEMA`, so re-pointing it runs no schema-inference
    job. The driver tables are inferred, which the ``events.ts`` path below
    needs.

    The driver writes ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. With ``spark.sql.legacy.parquet.nanosAsLong``
    the column arrives as LongType nanoseconds; ``ts div 1000`` (integer
    division — float division would lose precision above 2^53) then
    ``timestamp_micros`` restores TimestampType at microsecond precision,
    matching what DuckDB/pandas see.
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "build_sizes":
        return spark.read.schema(SINK_SCHEMA).parquet(path)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Keep the raw nanos column (`_ts_ns`): predicates on the *derived*
        # ts can't reach the parquet scan (Catalyst won't invert
        # timestamp_micros), but an equivalent long-space predicate on
        # `_ts_ns` does — operators.timeseries.time_range adds it, restoring
        # row-group skipping on time scans.
        df = df.withColumnRenamed("ts", "_ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("_ts_ns div 1000"))
        )
    # Belt-and-braces: if the session was built elsewhere with NTZ inference
    # on (a static conf we could not flip at runtime), normalize to TIMESTAMP
    # so watermarks/windows behave identically everywhere.
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    """Load all driver tables and register them as temp views, so every
    operator is reachable from both the DataFrame API and ``spark.sql``."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
