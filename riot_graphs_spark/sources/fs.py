"""Filesystem primitives for non-transactional parquet sinks and the table
readers' footer lookup (:mod:`.tables`).

The plain-parquet keyed append needs what a transactional table format
would give for free: an explicit "does the partition exist yet" probe
(instead of catching every read error as first-batch — a corrupt footer or
permission failure must FAIL the batch, not silently reset state).

It goes through Hadoop's ``FileSystem`` API so it works on any scheme the
cluster mounts (HDFS, s3a, abfss, local), not just the local FS.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def path_exists(spark: SparkSession, path_str: str) -> bool:
    """True iff *path_str* exists on its filesystem (any Hadoop scheme)."""
    fs, path = _fs_and_path(spark, path_str)
    return bool(fs.exists(path))
