"""The ``build_sizes`` sink and the parquet layout writers — the InfluxDB
write path (reference ``rg.py:33-41`` S7, ``rg.py:30-36`` S8 dry-run, O2
point-overwrite idempotency).

Every ``build_sizes`` writer goes through :func:`merge_append`: ``/update``
(:func:`..streaming.ingest.incremental_refresh`), ``fetch`` and
``fetch --noop`` (:func:`..plans.fetch.batch_fetch`); the streaming corpus
ingest uses the same append keyed on its fingerprint. This module owns the
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
  already owns; writers emit one file per task, and
  :func:`compact_partitions` rewrites the small files appends accumulate.
- ``noop=True`` (reference ``--noop``) runs the same dedupe and pruned
  anti-join into the built-in noop sink: the count a real run would
  ingest, zero writes.
"""

from __future__ import annotations

from collections.abc import Sequence

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

    1. The batch, with ``p_date`` added, is persisted and forced once by a
       noop write that observes its row count and date set. An empty batch
       stops here. Emptiness is the count, not the dates: ``collect_set``
       drops nulls, and a null-``ts`` row is still appended.
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
            fresh.write.mode("append").partitionBy(PARTITION_COL).parquet(sink_path)
        return int(obs.get["n"])
    finally:
        rows.unpersist()


def compact_partitions(
    spark,
    path: str,
    partitions: Sequence[str] | None = None,
    files_per_partition: int = 1,
) -> int:
    """Compact the small files a streaming/incremental ingest accumulates
    (every micro-batch appends at least one file per partition — after a
    month of availableNow runs a day-partition holds hundreds of KB-sized
    files, and scan planning cost grows with file count, not bytes).

    Rewrites the selected date partitions (default: all) to
    ``files_per_partition`` files each via repartition on the partition
    column + dynamic partition overwrite — untouched partitions are left
    alone, and readers see the old files until the atomic directory swap.
    Returns the number of partitions compacted.
    """
    df = spark.read.parquet(path)
    if partitions is not None:
        df = df.filter(F.col(PARTITION_COL).isin(list(partitions)))
        n_parts = len(set(partitions))
    else:
        n_parts = df.select(PARTITION_COL).distinct().count()
    compacted = df.repartition(
        max(1, n_parts * files_per_partition), PARTITION_COL
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        compacted.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n_parts


def write_clustered(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    cluster_cols: Sequence[str],
    files_per_partition: int = 1,
) -> None:
    """Layout-controlled write: within each output partition, rows are
    sorted by ``cluster_cols`` before writing — parquet row-group min/max
    statistics on those columns become tight, so point and range predicates
    on them skip whole row groups at scan time (the CLUSTER BY / Z-ORDER
    effect for the common 1-2 column case; true Z-order only wins when
    filtering on many columns independently).

    This is how the `build_sizes` table should be laid out at 100 TB:
    partitioned by date, clustered by (test, board) — a dashboard query for
    one board then reads ~1/|boards| of each day's bytes instead of all of
    them.

    The repartition hashes on ``(partition_cols, salt)`` into the normal
    ``spark.sql.shuffle.partitions`` task pool — NOT
    ``repartition(files_per_partition, ...)``, which would set the TOTAL
    shuffle-partition count and funnel the whole dataset through
    ``files_per_partition`` tasks (one, by default) doing one giant sort.
    Each ``(partition key, salt)`` group lands wholly in one task, so every
    output partition directory gets at most ``files_per_partition`` files;
    the salt is ``hash(cluster_cols)`` so rows with equal cluster keys
    co-locate in the same file and the per-file sort yields tight
    row-group stats. The sort is per-task; no extra shuffle.
    """
    salt_src = [F.col(c) for c in (cluster_cols or df.columns)]
    salt = F.pmod(F.hash(*salt_src), F.lit(max(1, files_per_partition)))
    (
        df.withColumn("_salt", salt)
        .repartition(*[F.col(c) for c in partition_cols], F.col("_salt"))
        .sortWithinPartitions(*[F.col(c) for c in cluster_cols])
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> DataFrame:
    """Append a ``_z`` column: the Morton (Z-order) interleaving of the
    ``cols`` values, each linearly scaled to ``bits``-bit integers over its
    observed [min, max] range.

    The scale ranges come from ONE bounded aggregate (2·|cols| scalars to
    the driver — model-state-sized, like the k-means update).  Linear
    min/max scaling is the standard engine choice (Delta OPTIMIZE ZORDER
    uses range ids); heavily skewed columns trade some balance for the
    zero-shuffle bucketization — acceptable because the z-value is a SORT
    key, not a partition count.  ``bits·|cols|`` must fit 63 bits.

    NULL layout keys: a NULL in any z-order column scales to the clamp
    floor (scaled 0, the same cell as the column minimum), so ``_z`` is
    never NULL and ``write_zordered``'s ``repartitionByRange`` spreads such
    rows across the normal range partitions instead of lumping every
    NULL-keyed row into one file.
    """
    if not cols:
        raise ValueError("need at least one z-order column")
    k = len(cols)
    if bits * k > 63:
        raise ValueError("bits * len(cols) must be <= 63")
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn{i}")
          for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_mx{i}")
          for i, c in enumerate(cols)],
    ).first()
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn = float(row[f"_mn{i}"]) if row[f"_mn{i}"] is not None else 0.0
        mx = float(row[f"_mx{i}"]) if row[f"_mx{i}"] is not None else 0.0
        span = (mx - mn) or 1.0
        # coalesce: NULL inputs land on the clamp floor (scaled 0) so _z
        # stays non-NULL and range partitioning spreads NULL-keyed rows
        scaled = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.coalesce(
                    F.floor(
                        (F.col(c).cast("double") - F.lit(mn))
                        / F.lit(span) * F.lit(float(top))
                    ).cast("long"),
                    F.lit(0).cast("long"),
                ),
            ),
        )
        for b in range(bits):
            bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return df.withColumn("_z", z)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet write: rows are range-partitioned and
    sorted by the Morton interleaving of ``zorder_cols``, so row-group
    min/max statistics stay tight on EVERY interleaved column at once —
    point/range predicates on any of them skip row groups at scan time.

    :func:`write_clustered` (lexicographic sort) is the right layout when
    queries filter on one leading column; Z-order wins when several
    columns are filtered INDEPENDENTLY (user_id lookups and value-range
    scans over the same table) — the locality-preserving curve bounds each
    row group to a small hyper-rectangle of the value space instead of a
    thin slab of the first column.

    Plan: one bounded stats agg + one range exchange on ``_z`` (sampled,
    balanced) + per-task sort — the same shuffle budget as any clustered
    rewrite; no global sort, no driver data path.  This is the layout pass
    a 100 TB curation pipeline runs LAST, after dedup/filter — which is
    exactly why the input lineage is localCheckpoint'd first: the stats
    agg, the range-partitioner's sampling pass, and the write itself each
    execute the plan, and without the checkpoint the whole upstream
    dedup/filter DAG would run three times.
    """
    df = df.localCheckpoint(eager=False)
    zdf = zorder_value(df, zorder_cols, bits=bits)
    parts = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    (
        zdf.repartitionByRange(parts, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Hash-bucketed table write (``bucketBy`` + ``saveAsTable``) — the
    co-located-join layout for fact⋈fact at 100 TB: two tables bucketed on
    the same key with the same bucket count join WITHOUT an Exchange on
    either side (asserted in tests/test_sinks.py), because every bucket i
    of one table joins only bucket i of the other. A daily lineitem⋈orders
    reconciliation over 100 TB pays the shuffle ONCE at write time and
    never again per query; bucketed scans also feed aggregations on the
    bucket key shuffle-free.

    ``sort_cols`` additionally sorts within buckets (sort-merge joins then
    skip the per-task sort, and row-group stats on the sort key tighten).
    Bucketing requires the session catalog (plain ``parquet(path)`` cannot
    record bucket metadata); pass ``path`` to keep the data external.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def expire_partitions(
    spark,
    path: str,
    keep_days: int,
    today,
) -> list[str]:
    """Retention/TTL job: delete date partitions older than ``today −
    keep_days`` from a date-partitioned parquet sink; returns the dropped
    partition values. ``today`` is an explicit ``datetime.date`` — no hidden
    clock, so retention runs are reproducible and testable.

    The cutoff is evaluated against partition DIRECTORY names only (one
    filesystem listing — no data read, no scan job): at a 100-TB sink,
    retention must be a metadata operation. Directories whose value does not
    parse as a date are left untouched (never guess-delete). Deletion is
    per-partition-directory, the same unit the writers append — concurrent
    readers of newer partitions are unaffected.
    """
    import datetime as _dt

    from .fs import _fs_and_path

    cutoff = today - _dt.timedelta(days=keep_days)
    fs, root = _fs_and_path(spark, path)
    if not fs.exists(root):
        return []
    dropped: list[str] = []
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if not name.startswith(f"{PARTITION_COL}="):
            continue
        value = name.split("=", 1)[1]
        try:
            part_date = _dt.date.fromisoformat(value)
        except ValueError:
            continue  # non-date partition value: never guess-delete
        if part_date < cutoff:
            fs.delete(status.getPath(), True)
            dropped.append(value)
    return sorted(dropped)


def write_with_bloom_filters(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    ndv: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Parquet write with per-column bloom filters — the point-lookup
    accelerator for high-cardinality key columns that min/max page stats
    can't prune (a `WHERE doc_id = X` against a 100 TB corpus touches
    every file whose [min,max] straddles X, which for a hash-ish id is
    ALL of them; a bloom filter answers "definitely not here" per row
    group and the scan skips it).

    Pure writer-side metadata: readers that ignore bloom filters read
    the file unchanged; Spark's parquet reader consults them
    automatically on equality predicates.  Size ``ndv`` to the expected
    distinct keys PER ROW GROUP (overshooting wastes ~1.2 bytes/key of
    footer, undershooting inflates the false-positive rate — both safe,
    neither wrong).

    Complements, not replaces, the layout sinks: partition pruning cuts
    directories, Z-order/clustering cuts row groups by SORTED columns,
    bloom filters cut row groups by UNSORTED keys.
    """
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv))
        )
    writer.parquet(path)


# --------------------------------------------------------------------------
# Concurrent-writer upsert (r12 verdict item 4)
#
# The reference delegates multi-writer point-upsert to InfluxDB's storage
# engine (``rg.py:301-315`` semantics: last point wins per (measurement,
# tags, time) with server-side serialization).  ``merge_append`` above is
# insert-if-absent: a key already stored keeps its first values, and two
# writers racing on one partition can both append the same key.  Without
# a transactional table format in the environment, the discipline below
# serializes per-partition read-merge-write cycles behind filesystem
# leases:
#
# - a lease is an O_CREAT|O_EXCL file under ``<path>/_leases/`` — atomic
#   on POSIX and on HDFS (create with overwrite=false); on eventually-
#   consistent object stores point ``lease_dir`` at a strongly-consistent
#   path (S3 now supports conditional PUT; the semantics are identical)
# - leases are acquired in SORTED partition order (no deadlock between
#   writers taking overlapping partition sets)
# - a lease carries writer id + epoch; anything older than ``lease_ttl_s``
#   is presumed dead and broken (crash-safety: the merge itself is an
#   atomic dynamic-partition overwrite, so a writer dying mid-cycle leaves
#   either the old or the new partition, never a torn one)
# - the merge is keyed: existing partition rows ∪ batch, one row per key,
#   batch wins — InfluxDB's point-overwrite for PARTIAL batches, which
#   plain dynamic overwrite cannot give
# --------------------------------------------------------------------------


class ConcurrentWriteError(RuntimeError):
    """A partition lease could not be acquired within the retry budget."""


class _PartitionLeases:
    """Sorted-order acquisition of per-partition lease files."""

    def __init__(
        self,
        lease_dir: str,
        partitions: Sequence[str],
        writer_id: str,
        lease_ttl_s: float,
        acquire_timeout_s: float,
        poll_s: float,
    ) -> None:
        import os

        os.makedirs(lease_dir, exist_ok=True)
        self._dir = lease_dir
        self._parts = sorted(set(partitions))
        self._writer = writer_id
        self._ttl = lease_ttl_s
        self._timeout = acquire_timeout_s
        self._poll = poll_s
        self._held: list[str] = []

    def _lease_path(self, part: str) -> str:
        import os

        safe = part.replace("/", "=")
        return os.path.join(self._dir, f"{safe}.lease")

    def _try_take(self, part: str) -> bool:
        import json as _json
        import os
        import time as _time

        p = self._lease_path(part)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # stale-lease break: the holder is presumed dead past TTL
            try:
                age = _time.time() - os.stat(p).st_mtime
            except FileNotFoundError:
                return False  # released between exists-check and stat
            if age > self._ttl:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
                return False  # next poll retries the O_EXCL create
            return False
        with os.fdopen(fd, "w") as f:
            f.write(
                _json.dumps(
                    {"writer": self._writer, "epoch": _time.time()}
                )
            )
        self._held.append(p)
        return True

    def __enter__(self) -> "_PartitionLeases":
        import time as _time

        deadline = _time.monotonic() + self._timeout
        for part in self._parts:
            while not self._try_take(part):
                if _time.monotonic() >= deadline:
                    self._release()
                    raise ConcurrentWriteError(
                        f"lease for partition {part!r} held by another "
                        f"writer past {self._timeout}s"
                    )
                _time.sleep(self._poll)
        return self

    def __exit__(self, *exc) -> None:
        self._release()

    def _release(self) -> None:
        import os

        for p in self._held:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        self._held = []


def merge_upsert_partitions(
    df: DataFrame,
    path: str,
    key: Sequence[str],
    lease_ttl_s: float = 600.0,
    acquire_timeout_s: float = 60.0,
    poll_s: float = 0.25,
) -> None:
    """O2 for PARTIAL batches under CONCURRENT writers: per-key merge into
    the batch's date partitions (batch wins per key — InfluxDB
    point-overwrite semantics, reference ``rg.py:301-315``), serialized per
    partition by filesystem leases so two writers touching the same
    partition cannot lose each other's rows. The batch is laid out like the
    ``build_sizes`` sink (``p_date = to_date(ts)``); each call writes under
    a fresh writer id.

    Differences from :func:`merge_append` (the ingest path, where a stored
    key keeps its first values): the existing partition contents are read
    and merged, so a batch carrying three rows of a million-row day updates
    three keys and keeps the rest; and the read-merge-write cycle holds the
    partition lease, so an interleaved writer waits (up to
    ``acquire_timeout_s``, then :class:`ConcurrentWriteError`) instead of
    silently clobbering.

    Scale notes: the merge reads ONLY the batch's partitions (partition
    filter pushed to the scan), shuffles once on the upsert key, and
    rewrites only those partitions via dynamic overwrite.  Lease files
    serialize WRITERS, not tasks — executor parallelism inside the merge
    is unaffected.  The per-key winner is picked with ``max_by`` over a
    priority struct (batch=1, existing=0), a partial-aggregable single
    shuffle — no window over the partition contents.
    """
    import os
    import uuid

    spark = df.sparkSession
    kcols = list(key)
    batch = _date_partition(df)
    dates = [r[0] for r in batch.select(PARTITION_COL).distinct().collect()]
    leases = _PartitionLeases(
        os.path.join(path, "_leases"),
        [f"{PARTITION_COL}={d}" for d in dates],
        uuid.uuid4().hex,
        lease_ttl_s,
        acquire_timeout_s,
        poll_s,
    )
    with leases:
        cols = batch.columns
        # replay-safety inside the batch too: one row per key before the
        # merge, same as merge_append
        tagged = batch.dropDuplicates(kcols).select(
            *cols, F.lit(1).alias("_pri")
        )
        if os.path.isdir(path) and any(
            e.startswith(f"{PARTITION_COL}=") for e in os.listdir(path)
        ):
            # prune to the batch's partitions only — the filter reaches
            # the scan as partition pruning
            existing = spark.read.parquet(path).where(
                F.col(PARTITION_COL).isin(dates)
            )
            tagged = tagged.unionByName(
                existing.select(*cols, F.lit(0).alias("_pri"))
            )
        merged = (
            tagged.groupBy(*kcols)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c not in kcols]),
                    F.col("_pri"),
                ).alias("_row")
            )
            .select(*kcols, "_row.*")
        )
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            merged.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
                path
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )
