"""Sink-layer tests (SURVEY §2.1 S7/S8, §2.6 O2): compaction, layout
writers, retention, and the concurrent-writer keyed upsert on the
``build_sizes`` date layout."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row

UTC = dt.timezone.utc


def test_compact_partitions_reduces_files_keeps_data(spark, tmp_path):
    import glob

    from pyspark.sql import Row

    from riot_graphs_spark.sources.sinks import compact_partitions

    path = str(tmp_path / "t")
    rows = [
        Row(p_date=dt.date(2024, 1, d), v=i) for d in (1, 2) for i in range(40)
    ]
    # simulate many micro-batch appends: 8 files per partition
    spark.createDataFrame(rows).repartition(8).write.partitionBy(
        "p_date"
    ).parquet(path)
    before = len(glob.glob(f"{path}/p_date=2024-01-01/*.parquet"))
    assert before >= 8

    n = compact_partitions(spark, path, partitions=["2024-01-01"])
    assert n == 1
    after = len(glob.glob(f"{path}/p_date=2024-01-01/*.parquet"))
    untouched = len(glob.glob(f"{path}/p_date=2024-01-02/*.parquet"))
    assert after < before and untouched >= 8  # only the named partition rewritten

    got = spark.read.parquet(path)
    assert got.count() == 80
    assert got.groupBy("p_date").count().collect()[0][1] == 40


def test_compact_partitions_on_the_update_sink(spark, tmp_path):
    """Compaction with its defaults reads the layout /update writes: three
    nights landed into one day leave one file per refresh in that day's
    directory, and compacting keeps exactly the same keys."""
    import glob

    from riot_graphs_spark.sources.sinks import BUILD_SIZES_KEY, compact_partitions
    from riot_graphs_spark.streaming.ingest import incremental_refresh

    landing, sink, ckpt = (str(tmp_path / d) for d in ("landing", "sink", "ckpt"))
    os.makedirs(landing)
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    for night, hour in enumerate((4, 12, 20)):
        with open(f"{landing}/night{night}.json", "w") as f:
            f.write(json.dumps({
                "ts": f"2024-01-01 {hour:02d}:00:00",
                "sha": f"sha{night}",
                "sizes": {"tests_shell": {"native": b, "esp32": b}},
            }))
        assert incremental_refresh(spark, landing, sink, ckpt) == 2

    def keys():
        return sorted(spark.read.parquet(sink).select(*BUILD_SIZES_KEY).collect())

    day = f"{sink}/p_date=2024-01-01/*.parquet"
    before, keys_before = len(glob.glob(day)), keys()
    assert before >= 3 and len(keys_before) == 6

    assert compact_partitions(spark, sink) == 1
    assert len(glob.glob(day)) < before
    assert keys() == keys_before


def test_write_clustered_tightens_row_group_stats(spark, tmp_path):
    """Clustered layout must produce parquet files whose row groups are
    sorted on the cluster column (tight, non-overlapping min/max stats =
    row-group skipping for point/range predicates on it)."""
    import glob

    import pyarrow.parquet as pq

    from riot_graphs_spark.sources.sinks import write_clustered

    rows = [("d1" if i % 2 else "d2", (i * 37) % 500, float(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "date string, user_id long, v double")
    out = str(tmp_path / "clustered")
    write_clustered(
        df, out, partition_cols=["date"], cluster_cols=["user_id"]
    )
    files = glob.glob(f"{out}/date=*/*.parquet")
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        idx = {
            meta.schema.column(i).name: i for i in range(meta.num_columns)
        }["user_id"]
        prev_max = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            assert st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max  # sorted file: groups don't overlap
            prev_max = st.max
    # data round-trips completely
    assert spark.read.parquet(out).count() == 2000


def test_write_clustered_parallelism_and_file_fanout(spark, tmp_path):
    """ADVICE fix: the pre-write repartition must hash into the normal
    shuffle-partition pool (parallel tasks), never collapse the dataset to
    ``files_per_partition`` total partitions; and each partition directory
    gets at most ``files_per_partition`` files."""
    import glob

    from riot_graphs_spark.sources.sinks import write_clustered

    rows = [(f"d{i % 4}", (i * 37) % 500, float(i)) for i in range(4000)]
    df = spark.createDataFrame(rows, "date string, user_id long, v double")

    # Mirror write_clustered's pre-write plan and check the task count: with
    # 4 dates x 3 salts = 12 distinct hash keys, the exchange must spread
    # across >1 task (the old repartition(files_per_partition, ...) put the
    # ENTIRE dataset in exactly files_per_partition=1 task).
    from pyspark.sql import functions as F

    salt = F.pmod(F.hash(F.col("user_id")), F.lit(3))
    staged = df.withColumn("_salt", salt).repartition(F.col("date"), F.col("_salt"))
    # The exchange must hash into the full shuffle-partition pool (AQE may
    # coalesce tiny test data afterwards — that's adaptive and fine); the
    # old repartition(files_per_partition, ...) pinned it to 1 partition
    # unconditionally, serializing a 100-TB write through one task.
    plan = staged._jdf.queryExecution().executedPlan().toString()
    n_pool = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert "hashpartitioning" in plan
    assert f", {n_pool})" in plan.split("hashpartitioning", 1)[1].split("\n", 1)[0]
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert staged.rdd.getNumPartitions() == n_pool
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)

    out = str(tmp_path / "clustered_fanout")
    write_clustered(
        df, out, partition_cols=["date"], cluster_cols=["user_id"],
        files_per_partition=3,
    )
    for d in range(4):
        files = glob.glob(f"{out}/date=d{d}/*.parquet")
        assert 1 <= len(files) <= 3
    assert spark.read.parquet(out).count() == 4000
    # _salt is a layout detail, not part of the table schema
    assert "_salt" not in spark.read.parquet(out).columns


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The co-located-join contract: two tables bucketed on the same key
    and count must sort-merge join with ZERO Exchange operators — the
    write-once-shuffle-never-again layout for 100 TB fact⋈fact."""
    import re

    from riot_graphs_spark.sources.sinks import write_bucketed_table

    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(200)], "k long, va string"
    )
    b = spark.createDataFrame(
        [(i, f"b{i}") for i in range(0, 200, 2)], "k long, vb string"
    )
    write_bucketed_table(a, "t_bkt_a", ["k"], 4, sort_cols=["k"],
                         path=str(tmp_path / "a"))
    write_bucketed_table(b, "t_bkt_b", ["k"], 4, sort_cols=["k"],
                         path=str(tmp_path / "b"))
    try:
        joined = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_expire_partitions_is_metadata_only_and_safe(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from riot_graphs_spark.sources.sinks import expire_partitions

    sink = str(tmp_path / "retained")
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-05", 2), ("2024-01-09", 3)],
        "d string, v int",
    ).withColumn("p_date", F.col("d").cast("date"))
    df.write.partitionBy("p_date").parquet(sink)
    # a non-date partition dir must never be guess-deleted
    extra = tmp_path / "retained" / "p_date=__HIVE_DEFAULT_PARTITION__"
    extra.mkdir()
    (extra / "part-0.parquet").write_bytes(b"")

    dropped = expire_partitions(
        spark, sink, keep_days=5, today=dt.date(2024, 1, 10)
    )
    assert dropped == ["2024-01-01"]
    assert extra.exists()
    left = {
        str(r.p_date)
        for r in spark.read.option("basePath", sink).parquet(sink).select("p_date").distinct().collect()
        if r.p_date is not None
    }
    assert left == {"2024-01-05", "2024-01-09"}
    # idempotent: second run drops nothing
    assert expire_partitions(spark, sink, 5, dt.date(2024, 1, 10)) == []
    # missing sink: no-op
    assert expire_partitions(spark, str(tmp_path / "nope"), 5, dt.date(2024, 1, 10)) == []


# --------------------------------------------------------------------------
# CSV landing zone: explicit schema, PERMISSIVE quarantine, streaming twin
# --------------------------------------------------------------------------
def test_csv_zone_batch_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from riot_graphs_spark.sources.csvzone import (
        read_csv_zone,
        split_corrupt,
    )

    p = tmp_path / "drop"
    p.mkdir()
    (p / "a.csv").write_text(
        "event_id,event_type,value\n"
        "1,click,1.5\n"
        "not-a-long,oops,xyz\n"  # malformed: two bad casts
        "2,view,2.0\n"
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    df = read_csv_zone(spark, str(p), schema)
    clean, corrupt = split_corrupt(df)
    rows = {r.event_id: (r.event_type, r.value) for r in clean.collect()}
    assert rows == {1: ("click", 1.5), 2: ("view", 2.0)}
    bad = [r[0] for r in corrupt.collect()]
    assert bad == ["not-a-long,oops,xyz"]

    # The caller's schema object must come back untouched (StructType.add
    # mutates in place — the reader builds a copy), so the SAME schema
    # serves a second read: batch backfill then the streaming tail.
    assert schema.names == ["event_id", "event_type", "value"]
    df2 = read_csv_zone(spark, str(p), schema)
    assert df2.columns == ["event_id", "event_type", "value", "_corrupt_record"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_csv_zone(spark, str(p), schema.add("_corrupt_record", StringType()))


def test_csv_zone_streaming_reads_same_rows(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from riot_graphs_spark.sources.csvzone import read_csv_zone

    p = tmp_path / "drop"
    p.mkdir()
    (p / "a.csv").write_text("event_id,event_type\n1,click\n2,view\n")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    out = tmp_path / "out"
    chk = tmp_path / "chk"
    stream = read_csv_zone(spark, str(p), schema, streaming=True)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r.event_id: r.event_type
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {1: "click", 2: "view"}


def test_write_zordered_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-order layout: row-group min/max stats must be tight on BOTH
    interleaved columns (vs an unordered write where every row group spans
    ~the full range of each) — the multi-column data-skipping property a
    lexicographic sort cannot give the trailing column."""
    import glob

    import pyarrow.parquet as pq

    from riot_graphs_spark.sources.sinks import write_zordered

    # two independent uniform columns — the z-order worst case for a
    # 1-column sort, the showcase for the curve
    rows = [((i * 37) % 500, float((i * 101) % 400)) for i in range(20000)]
    df = spark.createDataFrame(rows, "user_id long, v double").repartition(8)

    def coverage(path: str, col: str, lo: float, hi: float) -> float:
        spans, n = 0.0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = {
                meta.schema.column(i).name: i
                for i in range(meta.num_columns)
            }[col]
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                spans += float(st.max) - float(st.min)
                n += 1
        return spans / (n * (hi - lo))  # avg fraction of range per group

    plain = str(tmp_path / "plain")
    df.write.mode("overwrite").parquet(plain)
    zed = str(tmp_path / "zorder")
    write_zordered(df, zed, zorder_cols=["user_id", "v"], n_files=16)

    # 16 z-range files = value-space rectangles of area 1/16 → each SIDE
    # spans ~1/4 of its column's range (plus quadrant-straddling slop);
    # an unordered write leaves every row group spanning ~the full range.
    for col, lo, hi in (("user_id", 0, 499), ("v", 0.0, 399.0)):
        assert coverage(plain, col, lo, hi) > 0.9  # unordered: full-range groups
        assert coverage(zed, col, lo, hi) < 0.6  # z-order: bounded rectangles

    got = spark.read.parquet(zed)
    assert got.count() == 20000
    assert set(got.columns) == {"user_id", "v"}  # _z dropped


def test_zorder_value_validates_and_handles_constant_columns(spark):
    import pytest as _pytest

    from riot_graphs_spark.sources.sinks import zorder_value

    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "a long, b double")
    # constant column: span guard (no div-by-zero), all rows z-comparable
    out = zorder_value(df, ["a", "b"], bits=8).collect()
    assert len(out) == 2 and all(r._z is not None for r in out)
    with _pytest.raises(ValueError):
        zorder_value(df, [], bits=8)
    with _pytest.raises(ValueError):
        zorder_value(df, ["a", "b"], bits=32)


def test_zorder_value_null_keys_land_on_clamp_floor(spark):
    """NULL z-order inputs must scale to cell 0, never a NULL _z — a NULL
    _z would lump every such row into one repartitionByRange partition."""
    from riot_graphs_spark.sources.sinks import zorder_value

    df = spark.createDataFrame(
        [(None, 10.0), (5, None), (None, None), (0, 0.0), (10, 20.0)],
        "a int, b double",
    )
    got = {(r.a, r.b): r._z for r in zorder_value(df, ["a", "b"], bits=4).collect()}
    assert all(z is not None for z in got.values())
    # a NULL behaves exactly like the column minimum (clamp floor)
    assert got[(None, None)] == got[(0, 0.0)]


def test_write_with_bloom_filters_size_and_readback(spark, tmp_path):
    import glob
    import os

    from riot_graphs_spark.sources.sinks import write_with_bloom_filters

    df = spark.range(20_000).selectExpr(
        "id", "cast(hash(id) as string) as k"
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    df.write.mode("overwrite").parquet(plain)
    write_with_bloom_filters(df, bloomed, ["k"], ndv=20_000)

    def total_bytes(d):
        return sum(
            os.path.getsize(f) for f in glob.glob(d + "/*.parquet")
        )

    # same rows, extra bloom bytes in the footer: strictly larger file
    assert total_bytes(bloomed) > total_bytes(plain)
    back = spark.read.parquet(bloomed)
    assert back.count() == 20_000
    # point lookup through the bloom-filtered reader path stays correct
    probe = df.filter("id = 12345").collect()[0]["k"]
    got = back.filter(back["k"] == probe).collect()
    assert any(r["id"] == 12345 for r in got)


# ---------------------------------------------------------------------------
# r13: concurrent-writer upsert (merge_upsert_partitions + partition leases)
# ---------------------------------------------------------------------------
def _read_map(spark, path):
    out = {}
    for r in spark.read.parquet(path).collect():
        # partition-column inference reads p_date= back as datetime.date
        out[(str(r["p_date"]), r["board"])] = r["text"]
    return out


def test_merge_upsert_two_writer_interleaving_loses_nothing(spark, tmp_path):
    """Two writers land PARTIAL batches into the same partition — the
    keyed merge must keep both writers' keys (plain dynamic overwrite
    would clobber writer A's rows with writer B's partial batch)."""
    from riot_graphs_spark.sources.sinks import merge_upsert_partitions

    sink = str(tmp_path / "merge")
    a = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 1, 4, tzinfo=UTC), board="b1", text=10),
            Row(ts=dt.datetime(2024, 1, 1, 5, tzinfo=UTC), board="b2", text=11),
        ]
    )
    b = spark.createDataFrame(
        [
            # overlaps A on (p_date, b2): later writer wins that key
            Row(ts=dt.datetime(2024, 1, 1, 6, tzinfo=UTC), board="b2", text=22),
            Row(ts=dt.datetime(2024, 1, 1, 7, tzinfo=UTC), board="b3", text=23),
        ]
    )
    merge_upsert_partitions(a, sink, key=["p_date", "board"])
    merge_upsert_partitions(b, sink, key=["p_date", "board"])
    got = _read_map(spark, sink)
    # no lost rows (b1 survives B's partial batch), no duplicates, B wins b2
    assert got == {
        ("2024-01-01", "b1"): 10,
        ("2024-01-01", "b2"): 22,
        ("2024-01-01", "b3"): 23,
    }
    # replay idempotence: running B again converges to the same state
    merge_upsert_partitions(b, sink, key=["p_date", "board"])
    assert _read_map(spark, sink) == got


def test_merge_upsert_touches_only_batch_partitions(spark, tmp_path):
    from riot_graphs_spark.sources.sinks import merge_upsert_partitions

    sink = str(tmp_path / "merge2")
    day1 = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 4, tzinfo=UTC), board="b1", text=1)]
    )
    day2 = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 2, 4, tzinfo=UTC), board="b1", text=2)]
    )
    merge_upsert_partitions(day1, sink, key=["p_date", "board"])
    f1 = os.path.getmtime(os.path.join(sink, "p_date=2024-01-01"))
    merge_upsert_partitions(day2, sink, key=["p_date", "board"])
    # day-1 directory untouched by the day-2 merge
    assert os.path.getmtime(os.path.join(sink, "p_date=2024-01-01")) == f1
    assert _read_map(spark, sink) == {
        ("2024-01-01", "b1"): 1,
        ("2024-01-02", "b1"): 2,
    }


def test_merge_upsert_lease_contention_raises_then_recovers(spark, tmp_path):
    """A held lease blocks an interleaved writer (ConcurrentWriteError
    after the timeout); releasing it lets the writer through."""
    from riot_graphs_spark.sources.sinks import (
        ConcurrentWriteError,
        merge_upsert_partitions,
    )

    sink = str(tmp_path / "merge3")
    batch = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 4, tzinfo=UTC), board="b1", text=1)]
    )
    lease_dir = os.path.join(sink, "_leases")
    os.makedirs(lease_dir)
    lease = os.path.join(lease_dir, "p_date=2024-01-01.lease")
    with open(lease, "w") as f:
        json.dump({"writer": "other", "epoch": 0}, f)
    os.utime(lease)  # fresh mtime: NOT stale
    with pytest.raises(ConcurrentWriteError):
        merge_upsert_partitions(
            batch, sink, key=["p_date", "board"], acquire_timeout_s=0.6,
            poll_s=0.1,
        )
    os.unlink(lease)
    merge_upsert_partitions(batch, sink, key=["p_date", "board"])
    assert _read_map(spark, sink) == {("2024-01-01", "b1"): 1}
    # leases are released after a successful merge
    assert os.listdir(lease_dir) == []


def test_merge_upsert_breaks_stale_lease(spark, tmp_path):
    """A lease older than the TTL is presumed dead and broken."""
    from riot_graphs_spark.sources.sinks import merge_upsert_partitions

    sink = str(tmp_path / "merge4")
    batch = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 4, tzinfo=UTC), board="b1", text=1)]
    )
    lease_dir = os.path.join(sink, "_leases")
    os.makedirs(lease_dir)
    lease = os.path.join(lease_dir, "p_date=2024-01-01.lease")
    with open(lease, "w") as f:
        json.dump({"writer": "dead", "epoch": 0}, f)
    os.utime(lease, (0, 0))  # ancient mtime: stale
    merge_upsert_partitions(
        batch, sink, key=["p_date", "board"], lease_ttl_s=60.0,
        acquire_timeout_s=5.0, poll_s=0.1,
    )
    assert _read_map(spark, sink) == {("2024-01-01", "b1"): 1}
