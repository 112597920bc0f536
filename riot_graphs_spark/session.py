"""SparkSession factory with defaults chosen for both local testing and
cluster-scale execution.

Design notes (100 TB posture, SURVEY §4):

- AQE is always on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts when the
  same plan runs on a 1000-executor cluster.
- ``spark.sql.session.timeZone`` is pinned to UTC — the reference mixes naive
  and tz-aware datetimes (``rg.py:101`` vs ``rg.py:62-67``); we are tz-correct
  by construction.
- ``spark.sql.legacy.parquet.nanosAsLong`` lets Spark read TIMESTAMP(NANOS)
  parquet columns. The driver's tables store TIMESTAMP(MICROS); an
  ``events.ts`` stored as NANOS is accepted too, and :mod:`..sources.tables`
  converts it back to TimestampType losslessly at microsecond precision.
- Streams write their checkpoint logs (file-source log, offset WAL, commit
  log) through ``FileSystemBasedCheckpointFileManager``: write a temporary
  file, then rename it over the log entry. Spark's default, the
  ``FileContext`` manager, runs 2 ``chmod`` and 8 ``readlink`` child
  processes per log write on a local filesystem when Hadoop's native
  library is not loaded; the three writes of one ``/update`` trigger then
  took about 45 ms, against about 12 ms now (docs/SCALING.md). The rename
  is atomic on POSIX filesystems and HDFS, and ``/update`` calls are
  serialized per checkpoint, so no two writers race for one entry. On an
  object store, whose rename is a copy, set the store's own manager here
  instead.
- Arrow is enabled so the few pandas-UDF operators (text wrap P13, multimodal
  decode stubs) move data in columnar batches, never row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs applied even when the caller (e.g. the verify driver)
# hands us an already-built session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (no-tz) parquet timestamps must land as TIMESTAMP (LTZ, session
    # tz pinned to UTC above), not TIMESTAMP_NTZ: event-time watermarks and
    # window() require TIMESTAMP, and batch/stream must see identical types.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streams write their checkpoint logs through Hadoop's FileSystem API
    # (see the module's design notes).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime confs on an externally-provided session (idempotent).
    Every key is settable at runtime (tests/test_session), so a failure
    here is raised, not skipped."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "riot-graphs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — right for test
    scale factors; on a real cluster AQE coalescing makes the initial number
    mostly irrelevant as long as it is not absurdly small.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"
    )
    nshuffle = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())
