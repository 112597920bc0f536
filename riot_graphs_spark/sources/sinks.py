"""The ``build_sizes`` sink — the InfluxDB write path (reference
``rg.py:33-41`` S7, ``rg.py:30-36`` S8 dry-run, O2 point-overwrite
idempotency).

Every ``build_sizes`` writer goes through :func:`merge_append`: ``/update``
(:func:`..streaming.ingest.incremental_refresh`), ``fetch`` and
``fetch --noop`` (:func:`..plans.fetch.batch_fetch`). This module owns the
sink's layout and upsert key:

- Facts are partitioned by event date, ``p_date = to_date(ts)``
  (:data:`PARTITION_COL`): time-range queries prune whole directories
  before any I/O, and one batch's merge touches only its own dates.
- InfluxDB's (measurement, tags, time) point-overwrite becomes a **keyed
  append**: dedupe the batch on the key, left-anti-join it against the keys
  already stored in the batch's date partitions, append the rest. Replayed
  or re-delivered input lands nothing — idempotent without a transactional
  table format. (On Delta/Iceberg the same body would be a keyed MERGE
  INTO; the call sites would not change.)
- The append costs four Spark jobs against an existing sink, whatever its
  size: one exchange-free pass caches the batch and observes its row count
  and dates, and the stored-key read lists and scans only the batch's own
  ``p_date=`` directories, with a known schema (no inference job). Whole-
  sink readers (:func:`..sources.tables.load_table`) pass
  :data:`SINK_SCHEMA` for the same reason.
- Batching (reference ``batch_size=20``) is the file-sizing concern Spark
  already owns; writers emit one file per task.
- No ``_SUCCESS`` marker is written: every append would rewrite the one
  at the sink's root, and no reader looks at it (Spark's listing skips
  it, DuckDB reads ``*/*.parquet``). On a local filesystem without
  Hadoop's native library the marker and its ``.crc`` cost two ``chmod``
  child processes per append.
- ``noop=True`` (reference ``--noop``) runs the same dedupe and pruned
  anti-join into the built-in noop sink: the count a real run would
  ingest, zero writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from ..schemas import BUILD_SIZES
from .fs import path_exists

#: InfluxDB point key of a ``build_sizes`` row (reference ``rg.py:301-315``).
BUILD_SIZES_KEY = ["test", "board", "ts"]

#: Sink layout: one directory per event date, so the per-batch merge and any
#: time-ranged readback touch only the partitions they name.
PARTITION_COL = "p_date"

#: Read schema of the ``build_sizes`` sink: the rows :func:`merge_append`
#: writes plus the partition column. Readers pass it, so no job infers it.
SINK_SCHEMA = StructType(
    [*BUILD_SIZES.fields, StructField(PARTITION_COL, DateType())]
)


def _date_partition(df: DataFrame) -> DataFrame:
    """Derive the partition column from event time."""
    return df.withColumn(PARTITION_COL, F.to_date(F.col("ts")))


def _existing_keys(
    spark: SparkSession,
    sink_path: str,
    key: list[str],
    dates: list,
    schema: StructType,
) -> DataFrame | None:
    """Upsert keys already stored in the sink's partitions for ``dates``, or
    ``None`` when none of those partitions exists yet.

    Listing and scanning are both bounded by the batch: the read names only
    the ``p_date=<date>`` directories that exist (one ``path_exists`` per
    date, never a listing of the whole sink), and the key + partition
    fields of ``schema`` are passed to the reader, so no job infers the
    schema from the files. The ``isin`` filter keeps ``PartitionFilters``
    in the plan (both asserted by tests/test_streaming)."""
    root = sink_path.rstrip("/")
    parts = [f"{root}/{PARTITION_COL}={d}" for d in dates]
    parts = [p for p in parts if path_exists(spark, p)]
    if not parts:
        return None
    fields = StructType([schema[c] for c in (*key, PARTITION_COL)])
    return (
        spark.read.schema(fields)
        .option("basePath", root)
        .parquet(*parts)
        .where(F.col(PARTITION_COL).isin(dates))
        .select(*key)
    )


def merge_append(
    batch_df: DataFrame, sink_path: str, key: list[str], noop: bool = False
) -> int:
    """Idempotent append: dedupe the batch on the upsert key, anti-join
    against already-stored keys *in the batch's date partitions only*, and
    append the remainder partitioned by date. Returns the number of NEW
    rows written (the reference's `/update` response, ``rg.py:156``),
    counted via ``observe`` on the write itself — no sink re-scan.
    ``noop=True`` runs the same plan into the noop sink and returns the
    count a real run would write.

    Two actions, four jobs against an existing sink (the exchange-free
    cache fill, the dedupe and stored-key exchanges, the write):

    1. The batch, with its field metadata cleared and ``p_date`` added, is
       persisted and forced once by a noop write that observes its row
       count and date set. An empty batch stops here. Emptiness is the
       count, not the dates: ``collect_set`` drops nulls, and a null-``ts``
       row is still appended.
    2. ``dropDuplicates(key)`` → left-anti join against
       :func:`_existing_keys` (skipped when none of the batch's partitions
       exists) → observed count → partitioned append or noop sink.

    At a 100-TB sink the anti-join's sink-side listing and read are bounded
    by the dates present in one micro-batch (typically 1-2 partitions), not
    sink size. (With a transactional table format this would be a keyed
    MERGE INTO; on plain parquet the pruned anti-join gives the same
    at-most-once-per-key effect for replayed batches.)
    """
    spark = batch_df.sparkSession
    # Clear field metadata, so every writer stores the same schema: a
    # streaming batch's ``ts`` carries its watermark delay.
    batch_df = batch_df.select(
        *(F.col(c).alias(c, metadata={}) for c in batch_df.columns)
    )
    rows = _date_partition(batch_df).persist()
    try:
        seen = Observation()
        rows.observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(PARTITION_COL).alias("dates"),
        ).write.format("noop").mode("overwrite").save()
        if seen.get["n"] == 0:
            return 0
        fresh = rows.dropDuplicates(key)
        existing = _existing_keys(
            spark, sink_path, key, seen.get["dates"], rows.schema
        )
        if existing is not None:
            fresh = fresh.join(existing, on=key, how="left_anti")
        obs = Observation()
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
        if noop:
            fresh.write.format("noop").mode("overwrite").save()
        else:
            (
                fresh.write.mode("append")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .partitionBy(PARTITION_COL)
                .parquet(sink_path)
            )
        return int(obs.get["n"])
    finally:
        rows.unpersist()
