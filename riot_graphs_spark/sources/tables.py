"""Batch readers for the driver's parquet tables.

Every table is read with a known schema, so binding one runs no Spark job:
``build_sizes`` with the sink's fixed schema, the driver tables with the
schema of their parquet footer, resolved on the driver (:func:`_footer_schema`).
A bare ``spark.read.parquet(path)`` would answer with a one-task
schema-inference job per read; the registry binds its tables in every query
it builds, so that job was paid on every construction.

Scale notes: every reader passes an explicit schema-compatible projection and
leaves filters to the caller so Catalyst can push predicates and prune columns
down to the parquet scan. At 100 TB the tables would be date-partitioned
directories; ``spark.read.parquet`` on a partitioned root gives partition
pruning for free — nothing here assumes a single file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs
from .fs import _fs_and_path
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


def _hidden(name: str) -> bool:
    """Names a Spark file listing skips (``InMemoryFileIndex``): ``_``/``.``
    prefixes, except ``_``-names that carry a partition value, and files
    still being copied."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, status):
    """The first data file under *status* in full-path order, or ``None``.

    Spark's non-merging schema inference reads this file's footer unless
    a ``_common_metadata``/``_metadata`` summary file is present, which
    Spark does not write by default. A directory's ``name + "/"`` sorts
    against its siblings as every path under it does, so a depth-first
    walk in that order meets the files in full-path order and can stop at
    the first one."""
    if not status.isDirectory():
        return status
    children = []
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if not _hidden(name):
            children.append((name + "/" if child.isDirectory() else name, child))
    for _, child in sorted(children, key=lambda c: c[0]):
        found = _first_data_file(fs, child)
        if found is not None:
            return found
    return None


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read on the
    driver from the footer of the path's first data file (no Spark job).

    It goes through Spark's own conversion,
    ``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session conf, so a
    schema Spark stored in the footer wins and ``nanosAsLong`` /
    ``inferTimestampNTZ`` apply exactly as in inference. Both are
    Spark-internal APIs; ``tests/test_streaming.py`` pins the result to the
    inferred schema for every driver table, so a Spark upgrade that changes
    them fails there. The footer is read afresh on every call: a file
    replaced between calls is seen.
    """
    fs, root = _fs_and_path(spark, path)
    status = _first_data_file(fs, fs.getFileStatus(root))
    if status is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    jvm = spark._jvm
    pq = jvm.org.apache.parquet
    meta = pq.hadoop.ParquetFileReader.readFooter(
        pq.hadoop.util.HadoopInputFile.fromStatus(
            status, spark._jsc.hadoopConfiguration()
        ),
        pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    spq = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = spq.ParquetFileFormat.readSchemaFromFooter(
        pq.hadoop.Footer(status.getPath(), meta),
        spq.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        ),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with a known schema (no Spark job); normalizes
    nanosecond parquet timestamps.

    ``build_sizes`` is the sink ``/update`` writes
    (:mod:`.sinks`): it is read with the sink's known schema,
    :data:`.sinks.SINK_SCHEMA`. The driver tables are read with their
    footer's schema (:func:`_footer_schema`), converted after
    :func:`~..session.apply_runtime_confs` so it is the schema inference
    would give, which the ``events.ts`` path below needs.

    The driver's tables store their timestamps as parquet TIMESTAMP(MICROS).
    An ``events.ts`` stored as TIMESTAMP(NANOS) is accepted too, though
    Spark's vectorized reader rejects that type. With
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as LongType
    nanoseconds; ``ts div 1000`` (integer division — float division would
    lose precision above 2^53) then ``timestamp_micros`` restores
    TimestampType at microsecond precision, matching what DuckDB/pandas
    see.
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "build_sizes":
        return spark.read.schema(SINK_SCHEMA).parquet(path)
    df = spark.read.schema(_footer_schema(spark, path)).parquet(path)
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
