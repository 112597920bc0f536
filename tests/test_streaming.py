"""Streaming tests (SURVEY §5 item 4): availableNow incremental ingestion,
idempotency under replayed/duplicate input, watermarked windowed rollup."""

from __future__ import annotations

import datetime
import json
import logging
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from riot_graphs_spark.plans.riot import build_sizes_from_raw
from riot_graphs_spark.schemas import BUILD_SIZES, SIZES_RAW
from riot_graphs_spark.sources.sinks import (
    PARTITION_COL,
    SINK_SCHEMA,
    _existing_keys,
    merge_append,
)
from riot_graphs_spark.streaming import ingest
from riot_graphs_spark.streaming.ingest import incremental_refresh


def _doc(day: int, sha: str, boards: dict[str, dict]) -> str:
    return json.dumps(
        {
            "ts": f"2024-01-{day:02d} 04:00:00",
            "sha": sha,
            "sizes": {"tests_shell": boards},
        }
    )


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return {
        "landing": str(landing),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }


KEY = ["test", "board", "ts"]


def _land_days(spark, dirs, days) -> None:
    """Land one single-board document per day and ingest them with /update."""
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    for day in days:
        with open(f"{dirs['landing']}/day{day}.json", "w") as f:
            f.write(_doc(day, f"sha{day}", {"native": b}))
    incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"])


def _sizes_batch(spark, tmp_path, docs: list[str]):
    """A batch ``build_sizes`` frame over *docs*, read the way ``fetch`` does."""
    src = tmp_path / "batch_docs"
    src.mkdir()
    for i, doc in enumerate(docs):
        (src / f"doc{i}.json").write_text(doc)
    raw = spark.read.schema(SIZES_RAW).option("multiLine", "true").json(str(src))
    return build_sizes_from_raw(raw)


def test_incremental_refresh_and_idempotency(spark, dirs):
    landing = dirs["landing"]
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    with open(f"{landing}/day1.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "samr21-xpro": b}))

    # First /update: 2 (test, board) rows land; the return is the DELTA
    # ingested by this call (reference rg.py:156), not the sink total.
    n1 = incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"])
    assert n1 == 2

    # Second /update with no new files: checkpoint skips everything (O5),
    # so the ingested delta is 0.
    n2 = incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"])
    assert n2 == 0

    # New file arrives with one NEW key and one REPLAYED key → only the new
    # key lands (O2 idempotent merge), delta = 1.
    with open(f"{landing}/day1b.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "esp32": b}))
    n3 = incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"])
    assert n3 == 1

    sink = spark.read.parquet(dirs["sink"])
    assert sink.select("test", "board", "ts").distinct().count() == 3
    assert {r.board for r in sink.select("board").collect()} == {
        "native",
        "samr21-xpro",
        "esp32",
    }


def _land_refresh_cycle(spark, dirs) -> list[int]:
    """The three /update calls of ``test_incremental_refresh_and_idempotency``
    (two new keys; nothing new; one new key beside a replayed one), with
    the delta each call returns."""
    landing = dirs["landing"]
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    with open(f"{landing}/day1.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "samr21-xpro": b}))
    out = [incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"])]
    out.append(incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"]))
    with open(f"{landing}/day1b.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "esp32": b}))
    out.append(incremental_refresh(spark, landing, dirs["sink"], dirs["ckpt"]))
    return out


@pytest.fixture()
def builds(monkeypatch):
    """Count the stream plans ``incremental_refresh`` builds."""
    calls: list[int] = []

    def spy(df):
        calls.append(1)
        return build_sizes_from_raw(df)

    monkeypatch.setattr(ingest, "build_sizes_from_raw", spy)
    return calls


def test_incremental_refresh_builds_the_stream_once(spark, dirs, builds):
    """Calls on the same session and paths reuse one analyzed writer: three
    /update calls build the stream plan once and return the same deltas as
    a fresh build each time. A new checkpoint directory builds again."""
    assert _land_refresh_cycle(spark, dirs) == [2, 0, 1]
    assert len(builds) == 1

    other = str(pathlib.Path(dirs["ckpt"]).parent / "ckpt2")
    assert incremental_refresh(spark, dirs["landing"], dirs["sink"], other) == 0
    assert len(builds) == 2


def test_incremental_refresh_recovers_after_a_failed_batch(
    spark, dirs, builds, monkeypatch
):
    """A call whose ``foreachBatch`` raises leaves its batch uncommitted and
    no count behind: the next call on the kept writer reruns the batch and
    returns its true delta."""
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    with open(f"{dirs['landing']}/day1.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "samr21-xpro": b}))

    def failing(*_args):
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(ingest, "merge_append", failing)
    with pytest.raises(Exception):
        incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"])
    monkeypatch.setattr(ingest, "merge_append", merge_append)
    assert incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"]) == 2
    assert incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"]) == 0
    assert len(builds) == 1


def test_incremental_refresh_logs_one_record_per_call(spark, dirs, caplog):
    """Every /update leaves one JSON record built from the pass's progress;
    a call with nothing new ran no micro-batch and ingested no row."""
    caplog.set_level(logging.INFO, logger=ingest.__name__)
    deltas = _land_refresh_cycle(spark, dirs)
    records = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == ingest.__name__
    ]
    assert len(records) == 3
    for rec, delta in zip(records, deltas):
        assert set(rec) == {
            "rows", "micro_batches", "input_rows", "duration_ms", "watermark"
        }
        assert set(rec["duration_ms"]) == {
            "triggerExecution", "addBatch", "latestOffset", "walCommit",
            "commitOffsets", "queryPlanning",
        }
        assert rec["rows"] == delta
    first, noop, third = records
    assert (first["micro_batches"], first["input_rows"]) == (1, 1)
    assert first["duration_ms"]["addBatch"] > 0
    assert (noop["micro_batches"], noop["rows"], noop["input_rows"]) == (0, 0, 0)
    assert noop["duration_ms"]["addBatch"] == 0
    # the third pass's watermark trails the first document's event time
    # by WATERMARK (2 days)
    assert third["micro_batches"] == 1
    assert third["watermark"].startswith("2023-12-30T04:00:00")


#: The session conf naming the class that writes a stream's checkpoint logs.
_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path: str) -> str:
    """Class name of the manager a stream started now would write its
    checkpoint logs under *path* with (the stream builds it the same way,
    from the session's Hadoop conf)."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getSimpleName()


def test_filecontext_checkpoint_resumes_under_the_filesystem_manager(
    spark, dirs
):
    """Streams on the engine's session resolve the rename-based FileSystem
    manager, and a checkpoint written under Spark's default FileContext
    manager resumes under it: nothing is reprocessed, and a newly landed
    document gives its true delta."""
    from riot_graphs_spark.session import apply_runtime_confs

    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    spark.conf.unset(_MANAGER_CONF)
    try:
        assert _checkpoint_manager(spark, dirs["ckpt"]) == (
            "FileContextBasedCheckpointFileManager"
        )
        _land_days(spark, dirs, (1,))
    finally:
        apply_runtime_confs(spark)
    assert _checkpoint_manager(spark, dirs["ckpt"]) == (
        "FileSystemBasedCheckpointFileManager"
    )
    assert incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"]) == 0
    with open(f"{dirs['landing']}/day2.json", "w") as f:
        f.write(_doc(2, "sha2", {"native": b, "esp32": b}))
    assert incremental_refresh(spark, dirs["landing"], dirs["sink"], dirs["ckpt"]) == 2
    assert spark.read.parquet(dirs["sink"]).count() == 3


def test_sink_appends_leave_no_success_marker(spark, dirs, tmp_path):
    """Neither ``/update`` nor ``fetch`` leaves a ``_SUCCESS`` marker (or
    its ``.crc``) in the sink, and ``build_sizes`` still binds with no
    Spark job."""
    from riot_graphs_spark.plans.fetch import batch_fetch
    from riot_graphs_spark.sources.tables import load_table

    tables = tmp_path / "tables"
    fetched = tmp_path / "fetched" / "build_sizes.parquet"
    dirs = {**dirs, "sink": str(tables / "build_sizes.parquet")}
    _land_days(spark, dirs, (1, 2))
    now = datetime.datetime(2024, 1, 5, 4)
    assert batch_fetch(spark, dirs["landing"], str(fetched), history=10, now=now) == 2
    for sink in (pathlib.Path(dirs["sink"]), fetched):
        names = sorted(p.name for p in sink.rglob("*"))
        assert any(n.endswith(".parquet") for n in names), names
        assert not any("_SUCCESS" in n for n in names), names
        df, jobs = _group_jobs(
            spark,
            f"repoint-{uuid.uuid4()}",
            lambda: load_table(spark, str(sink.parent), "build_sizes"),
        )
        assert jobs == 0
        assert df.count() == 2


#: Child session for the spawn guard: three ``/update`` calls (the first
#: night, which also creates the checkpoint; a fresh night; a re-delivery
#: of the first), printing each call's delta and the commands it spawned.
_SPAWN_PROBE = """
import json, pathlib, sys
from riot_graphs_spark.session import get_spark
from riot_graphs_spark.streaming.ingest import incremental_refresh

root, log = pathlib.Path(sys.argv[1]), pathlib.Path(sys.argv[2])
spark = get_spark(master="local[1]", shuffle_partitions=1)
landing = root / "landing"
landing.mkdir()
sizes = {"bss": 1, "text": 2, "data": 3, "count": 0}
calls = []
for i, day in enumerate((1, 2, 1)):
    doc = {"ts": f"2024-01-{day:02d} 04:00:00", "sha": f"sha{day}",
           "sizes": {"tests_shell": {"native": sizes, "esp32": sizes}}}
    (landing / f"n{i}.json").write_text(json.dumps(doc))
    before = len(log.read_text().splitlines()) if log.exists() else 0
    rows = incremental_refresh(
        spark, str(landing), str(root / "sink"), str(root / "ckpt"))
    spawned = log.read_text().splitlines()[before:] if log.exists() else []
    calls.append({"rows": rows, "spawned": [s.split()[0] for s in spawned]})
spark.stop()
print(json.dumps(calls))
"""


def test_update_spawns_no_readlink_and_few_chmods(spark, tmp_path):
    """Without Hadoop's native library the local filesystem runs a
    ``chmod`` per permission set and a ``readlink`` per link lookup. A
    session whose ``PATH`` logs both runs three ``/update`` calls: none
    runs ``readlink`` (the FileContext checkpoint manager ran 24 a call),
    and a call after the first spawns at most 13 commands (it was 39 for a
    fresh night, 34 for a re-delivery)."""
    import os
    import shutil
    import subprocess
    import sys

    if spark._jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded():
        pytest.skip("Hadoop's native library is loaded: chmod runs in-process")
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "spawned.log"
    for cmd in ("chmod", "readlink"):
        wrapper = bin_dir / cmd
        wrapper.write_text(
            f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {shutil.which(cmd)} "$@"\n'
        )
        wrapper.chmod(0o755)
    repo = pathlib.Path(__file__).resolve().parent.parent
    env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "PYTHONPATH": str(repo),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", _SPAWN_PROBE, str(tmp_path), str(log)],
        env=env, cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    calls = json.loads(out.stdout.strip().splitlines()[-1])
    assert [c["rows"] for c in calls] == [2, 2, 0]
    spawned = [cmd for c in calls for cmd in c["spawned"]]
    assert "chmod" in spawned  # the wrappers were on the JVM's PATH
    assert "readlink" not in spawned
    assert max(len(c["spawned"]) for c in calls[1:]) <= 13, calls


def test_sink_schema_is_what_update_writes(spark, dirs, tmp_path):
    """The sink's read schema, field metadata included, is the schema of the
    files /update and ``fetch`` write: a column change in
    ``build_sizes_from_raw`` fails here, not as a silently null column in
    every re-pointed view, and the stream's watermark delay stays out of the
    stored ``ts`` field."""
    from riot_graphs_spark.plans.fetch import batch_fetch

    _land_days(spark, dirs, (1, 2))
    fetched = str(tmp_path / "fetched")
    now = datetime.datetime(2024, 1, 5, 4)
    assert batch_fetch(spark, dirs["landing"], fetched, history=10, now=now) == 2
    for sink in (dirs["sink"], fetched):
        assert spark.read.parquet(sink).schema == SINK_SCHEMA, sink


def test_load_table_reads_the_sink_without_a_job(spark, tmp_path):
    """Re-pointing ``build_sizes`` reads the sink with its known schema: no
    Spark job infers it, and the rows are those of the inferred read."""
    from riot_graphs_spark.sources.tables import load_table

    tables = tmp_path / "tables"
    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tables / "build_sizes.parquet")
    _land_days(
        spark,
        {"landing": str(landing), "sink": sink, "ckpt": str(tmp_path / "ckpt")},
        (1, 2, 3),
    )
    df, jobs = _group_jobs(
        spark,
        f"repoint-{uuid.uuid4()}",
        lambda: load_table(spark, str(tables), "build_sizes"),
    )
    assert jobs == 0
    assert sorted(df.collect()) == sorted(spark.read.parquet(sink).collect())


def _bind_exactly(spark, tables: str, name: str):
    """``load_table(tables, name)`` runs no Spark job, and its schema and
    rows are those of Spark's inferred read; returns the bound frame."""
    from riot_graphs_spark.sources.tables import load_table

    df, jobs = _group_jobs(
        spark, f"bind-{uuid.uuid4()}", lambda: load_table(spark, tables, name)
    )
    assert jobs == 0, name
    ref = spark.read.parquet(f"{tables}/{name}.parquet")
    assert df.schema == ref.schema, name
    assert df.count() == ref.count(), name
    assert df.exceptAll(ref).count() == 0, name
    return df


@pytest.mark.parametrize(
    "name",
    [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ],
)
def test_load_table_binds_driver_tables_without_a_job(spark, sf_dir, name):
    """Every driver table is bound with its footer's schema: no Spark job
    infers it, and schema and rows equal the inferred read's."""
    _bind_exactly(spark, sf_dir, name)


def test_load_table_footer_schema_of_a_directory_table(spark, sf_dir, tmp_path):
    """A Spark-written directory of two part files (beside ``_SUCCESS``
    and ``.crc`` files) binds from its first data file with no job, and a
    date-partitioned one keeps its partition column."""
    tables = str(tmp_path)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(2).write.parquet(f"{tables}/orders.parquet")
    names = sorted(p.name for p in (tmp_path / "orders.parquet").iterdir())
    assert sum(n.startswith("part-") for n in names) == 2, names
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    _bind_exactly(spark, tables, "orders")

    orders.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
        "o_year"
    ).parquet(f"{tables}/orders_by_year.parquet")
    bound = _bind_exactly(spark, tables, "orders_by_year")
    assert bound.columns[-1] == "o_year"


def _nanos_events(sf_dir: str, tmp_path) -> int:
    """Write the testdata ``events`` table (``ts`` TIMESTAMP(MICROS)) to
    ``tmp_path/events.parquet`` with ``ts`` as TIMESTAMP(NANOS); returns
    its row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/events.parquet")
    assert table.schema.field("ts").type == pa.timestamp("us")
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return table.num_rows


def test_load_table_nanosecond_events_without_a_job(spark, sf_dir, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS): the footer schema is the
    inferred one under ``nanosAsLong`` (``ts`` a bigint), binding runs no
    job, and the bound ``ts`` equals the microsecond table's."""
    from riot_graphs_spark.sources.tables import _footer_schema, load_table

    num_rows = _nanos_events(sf_dir, tmp_path)
    path = str(tmp_path / "events.parquet")

    assert _footer_schema(spark, path) == spark.read.parquet(path).schema
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"
    df, jobs = _group_jobs(
        spark,
        f"bind-{uuid.uuid4()}",
        lambda: load_table(spark, str(tmp_path), "events"),
    )
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    micros = load_table(spark, sf_dir, "events")
    assert df.select(*micros.columns).exceptAll(micros).count() == 0
    assert df.count() == num_rows


def test_time_range_pushes_nanos_bounds_to_the_scan(spark, sf_dir, tmp_path):
    """On a TIMESTAMP(NANOS) ``events`` the window also filters the raw
    ``_ts_ns`` column, and those bounds reach the parquet scan as pushed
    filters on the file's ``ts`` column, in nanoseconds (the derived
    ``ts`` comparison cannot pass ``timestamp_micros``); the window's rows
    are the MICROS table's."""
    import pandas as pd

    from riot_graphs_spark.operators.timeseries import time_range
    from riot_graphs_spark.sources.tables import load_table

    start, end = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    _nanos_events(sf_dir, tmp_path)
    nanos = time_range(load_table(spark, str(tmp_path), "events"), "ts", start, end)
    plan = nanos._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert len(pushed) == 1, pushed
    lo, hi = pd.Timestamp(start).value, pd.Timestamp(end).value
    assert f"GreaterThanOrEqual(ts,{lo})" in pushed[0]
    assert f"LessThan(ts,{hi})" in pushed[0]

    micros = time_range(load_table(spark, sf_dir, "events"), "ts", start, end)
    assert "_ts_ns" not in micros.columns
    nanos = nanos.select(*micros.columns)
    assert micros.count() > 0
    assert nanos.count() == micros.count()
    assert nanos.exceptAll(micros).count() == 0


#: Single-pass registry members whose construction only binds tables.
_JOB_FREE_BUILDS = (
    "q1_pricing_summary",
    "j1_lineitem_orders",
    "flagship_daily_delta",
    "influxql_daily_derivative",
    "dedup_simhash",
    "p13_wrap",
)


def test_registry_construction_job_budget(spark, sf_dir):
    """Building a registry query runs no Spark job for its tables: the
    single-pass members build with 0 jobs, and ``graph_pagerank_parts``
    spends its 6 on the node count that materializes its degree table
    (one job per stage of the edge pipeline under AQE). The previous
    reads ran one schema-inference job per table bound."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    for name in _JOB_FREE_BUILDS:
        _, jobs = _group_jobs(
            spark, f"build-{uuid.uuid4()}", lambda: queries[name](spark, sf_dir)
        )
        assert jobs == 0, name
    _, jobs = _group_jobs(
        spark,
        f"build-{uuid.uuid4()}",
        lambda: queries["graph_pagerank_parts"](spark, sf_dir),
    )
    assert jobs <= 6


def test_merge_sink_read_is_partition_pruned(spark, dirs, tmp_path):
    """The anti-join's sink-side read must carry a partition filter on the
    batch's dates — at a 100-TB sink the merge touches only the named date
    partitions, never the whole table (VERDICT r01 'What's wrong' #1)."""
    _land_days(spark, dirs, (1, 2, 3))

    # Sink is laid out one directory per date.
    dirs_on_disk = {
        p.name
        for p in pathlib.Path(dirs["sink"]).iterdir()
        if p.is_dir()
    }
    assert dirs_on_disk == {
        f"{PARTITION_COL}=2024-01-0{d}" for d in (1, 2, 3)
    }

    existing = _existing_keys(
        spark, dirs["sink"], KEY, [datetime.date(2024, 1, 2)], SINK_SCHEMA
    )
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and PARTITION_COL in plan
    # Only the named partition survives pruning.
    assert existing.count() == 1


def _file_index_roots(df) -> list[str]:
    """Root paths of the file index behind *df*'s (single) parquet scan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    roots = leaves.head().relation().location().rootPaths()
    return [roots.apply(i).toString() for i in range(roots.size())]


def test_stored_key_read_lists_only_batch_partitions(spark, dirs):
    """Listing is bounded by the batch, not the sink: the stored-key read for
    one date is rooted at that date's directory alone — never at the sink
    root, whose listing walks every partition on each append — and a date
    with no directory yet is skipped, not read."""
    _land_days(spark, dirs, (1, 2, 3))
    existing = _existing_keys(
        spark, dirs["sink"], KEY, [datetime.date(2024, 1, 2)], SINK_SCHEMA
    )
    roots = _file_index_roots(existing)
    assert len(roots) == 1
    assert roots[0].endswith(f"/{PARTITION_COL}=2024-01-02"), roots
    assert existing.count() == 1

    both = _existing_keys(
        spark,
        dirs["sink"],
        KEY,
        [datetime.date(2024, 1, 3), datetime.date(2024, 1, 9)],
        SINK_SCHEMA,
    )
    assert [r.rsplit("/", 1)[-1] for r in _file_index_roots(both)] == [
        f"{PARTITION_COL}=2024-01-03"
    ]
    assert _existing_keys(
        spark, dirs["sink"], KEY, [datetime.date(2024, 1, 9)], SINK_SCHEMA
    ) is None


def test_merge_append_batch_spanning_stored_and_new_date(spark, dirs, tmp_path):
    """A batch with one stored date and one new date: the stored date's
    replayed key is dropped, its new key and the new date's rows land, and
    the new date's missing directory is never read (no PATH_NOT_FOUND)."""
    _land_days(spark, dirs, (1,))
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    batch = _sizes_batch(
        spark,
        tmp_path,
        [
            _doc(1, "sha1", {"native": b, "esp32": b}),  # native is stored
            _doc(5, "sha5", {"native": b, "esp32": b}),  # date not in the sink
        ],
    )
    assert merge_append(batch, dirs["sink"], KEY) == 3
    sink = spark.read.parquet(dirs["sink"])
    assert sink.count() == 4
    assert sink.select(*KEY).distinct().count() == 4
    # Replaying the same batch lands nothing.
    assert merge_append(batch, dirs["sink"], KEY) == 0


def _group_jobs(spark, group: str, fn):
    """Run *fn* under job group *group*; return (its result, its job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_append_job_budget(spark, dirs, tmp_path):
    """One append against an existing sink runs at most four Spark jobs:
    the exchange-free cache fill that also observes the batch's count and
    dates, the dedupe and stored-key exchanges, and the write. The previous
    body ran seven (dedupe + distinct-dates collect, a schema-inference job
    for the sink read, then the append). An empty batch runs only the
    first job, returns 0 and writes nothing."""
    _land_days(spark, dirs, (1, 2, 3))
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    batch = _sizes_batch(
        spark, tmp_path, [_doc(2, "sha2", {"native": b, "esp32": b})]
    )
    n, jobs = _group_jobs(
        spark,
        f"merge-{uuid.uuid4()}",
        lambda: merge_append(batch, dirs["sink"], KEY),
    )
    assert n == 1
    assert jobs <= 4, jobs

    def files():
        return sorted(
            str(p) for p in pathlib.Path(dirs["sink"]).rglob("*") if p.is_file()
        )

    before = files()
    empty = batch.where(F.col("ts") < F.lit(datetime.datetime(2000, 1, 1)))
    n0, jobs0 = _group_jobs(
        spark,
        f"empty-{uuid.uuid4()}",
        lambda: merge_append(empty, dirs["sink"], KEY),
    )
    assert (n0, jobs0) == (0, 1)
    assert files() == before


def test_merge_append_null_ts_rows_are_appended(spark, tmp_path):
    """Rows with a null ``ts`` have no date, and ``collect_set`` drops the
    null, so emptiness is tested on the row count, not the date set: such a
    batch is appended (into the default partition), deduped on the key.
    Null keys never match a stored key, so a replay appends them again."""
    sink = str(tmp_path / "sink")
    ts = datetime.datetime(2024, 1, 1, 4)

    def batch(rows):
        return spark.createDataFrame(rows, BUILD_SIZES)

    only_null = batch(
        [(None, "t", "native", 1, 2, 3, 6), (None, "t", "native", 1, 2, 3, 6)]
    )
    assert merge_append(only_null, sink, KEY) == 1

    mixed = batch(
        [
            (None, "t", "native", 1, 2, 3, 6),
            (None, "t", "esp32", 1, 2, 3, 6),
            (ts, "t", "native", 1, 2, 3, 6),
        ]
    )
    assert merge_append(mixed, sink, KEY) == 3
    assert merge_append(mixed, sink, KEY) == 2  # the dated row is stored

    got = spark.read.parquet(sink)
    assert got.count() == 6
    assert got.where(F.col("ts").isNull()).count() == 5
    dated = got.where(F.col("ts").isNotNull()).select(*KEY).collect()
    assert [tuple(r) for r in dated] == [("t", "native", ts)]


def test_streaming_session_windows(spark, tmp_path):
    """O6 in streaming: the same session_windows operator body runs under a
    watermark with availableNow — batch/stream operator sharing (SURVEY §7
    step 4)."""
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.timeseries import session_windows

    rows = [
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 10, 0), value=1.0),
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 10, 10), value=2.0),
        Row(user_id=1, ts=dt.datetime(2024, 1, 1, 12, 0), value=3.0),  # new session
        Row(user_id=2, ts=dt.datetime(2024, 1, 1, 10, 5), value=4.0),
    ]
    src = str(tmp_path / "sessions_src")
    df = spark.createDataFrame(rows)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        session_windows(
            stream.withWatermark("ts", "1 hour"),
            ts="ts",
            dims=["user_id"],
            gap="30 minutes",
            aggs=[F.count("*").alias("n_events")],
        )
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start.hour): r.n_events
        for r in spark.table("sessions_out").collect()
    }
    # The watermark has passed the first two sessions; the 12:00 one may be
    # withheld as open. Closed sessions must be exact.
    assert got[(1, 10)] == 2
    assert got[(2, 10)] == 1


def test_corrupt_json_lands_in_corrupt_record(spark, tmp_path):
    """P11: PERMISSIVE JSON parsing — malformed CI documents survive the
    scan with NULL fields + populated _corrupt_record instead of failing
    the job (the batch analogue of the reference's non-200 tolerance,
    rg.py:100-104)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from riot_graphs_spark.schemas import SIZES_RAW

    path = tmp_path / "landing"
    path.mkdir()
    good = '{"ts": "2024-01-01 04:00:00", "sha": "aaa", "sizes": {"t": {"b": {"bss": 1, "text": 2, "data": 3}}}}'
    bad = '{"ts": "2024-01-01 04:00:00", "sha": "bbb", "sizes": {TRUNCATED'
    (path / "docs.json").write_text(good + "\n" + bad + "\n")

    schema = StructType(
        [*SIZES_RAW.fields, StructField("_corrupt_record", StringType())]
    )
    # cache first: Spark disallows querying only _corrupt_record from the
    # raw file scan
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(path)).cache()
    ok = df.filter(F.col("_corrupt_record").isNull())
    corrupt = df.filter(F.col("_corrupt_record").isNotNull())
    assert ok.count() == 1 and ok.collect()[0].sha == "aaa"
    assert corrupt.count() == 1  # quarantined, job not failed


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """O2's pure-streaming form: dropDuplicatesWithinWatermark dedups
    replayed (test, board, ts) points without a sink-side merge — state
    stays bounded by the watermark horizon instead of growing forever."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows = [
        ("t", "native", "2024-01-01 04:00:00", 10),
        ("t", "native", "2024-01-01 04:00:00", 10),  # exact replay
        ("t", "esp32", "2024-01-01 04:00:00", 20),
        ("t", "native", "2024-01-02 04:00:00", 11),
    ]
    df = spark.createDataFrame(
        [(a, b, ts, v) for a, b, ts, v in rows],
        "test string, board string, ts_s string, text int",
    ).select("test", "board", F.to_timestamp("ts_s").alias("ts"), "text")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(
            "test string, board string, ts timestamp, text int"
        )
        .parquet(src)
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["test", "board", "ts"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.select("test", "board", "ts").distinct().count() == 3


def test_streaming_m4_downsample_complete_mode(spark, tmp_path):
    """M4 as a continuous aggregate: the same operator body (min_by/max_by
    per bucket + row-local explode) runs on a stream in complete mode — the
    live-dashboard downsampler."""
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.timeseries import m4_downsample

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_type="a", event_id=1, ts=t0 + dt.timedelta(hours=8), value=5.0),
        Row(event_type="a", event_id=2, ts=t0 + dt.timedelta(hours=10), value=1.0),
        Row(event_type="a", event_id=3, ts=t0 + dt.timedelta(hours=12), value=9.0),
        Row(event_type="a", event_id=4, ts=t0 + dt.timedelta(hours=14), value=5.0),
    ]
    src = str(tmp_path / "m4_src")
    df = spark.createDataFrame(rows)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        m4_downsample(
            stream, dims=["event_type"], ts="ts", value="value",
            unit="day", tiebreak="event_id",
        )
        .writeStream.format("memory")
        .queryName("m4_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_m4"))
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["ts"], r["value"])
        for r in spark.sql("SELECT * FROM m4_out").collect()
    )
    assert got == [
        (t0 + dt.timedelta(hours=8), 5.0),
        (t0 + dt.timedelta(hours=10), 1.0),
        (t0 + dt.timedelta(hours=12), 9.0),
        (t0 + dt.timedelta(hours=14), 5.0),
    ]


def test_stream_static_enrichment_join(spark, tmp_path):
    """J2 in streaming: a live event stream enriched against a static
    dimension with the same operators.joins.enrich body — stream-static
    joins are stateless (each micro-batch probes the dim; broadcast at
    dim sizes), unlike stream-stream joins."""
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.joins import enrich

    t0 = dt.datetime(2024, 1, 1)
    events = [
        Row(event_id=1, ts=t0, pr_num=7, value=1.0),
        Row(event_id=2, ts=t0, pr_num=8, value=2.0),
        Row(event_id=3, ts=t0, pr_num=99, value=3.0),  # no dim row
    ]
    dim = spark.createDataFrame(
        [Row(pr_num=7, title="fix build"), Row(pr_num=8, title="add board")]
    )
    src = str(tmp_path / "ss_src")
    df = spark.createDataFrame(events)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        enrich(stream, dim, on="pr_num")
        .writeStream.format("memory")
        .queryName("ss_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    q.awaitTermination()
    got = {r.event_id: r.title for r in spark.table("ss_out").collect()}
    # left-outer tolerance (reference rg.py:361-362): missing PR -> NULL title
    assert got == {1: "fix build", 2: "add board", 3: None}


def test_streaming_ohlc_complete_mode(spark, tmp_path):
    """OHLC as a continuous aggregate: the same ohlc_candles body (min_by/
    max_by per bucket) runs on a stream in complete mode — the live candle
    panel."""
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.timeseries import ohlc_candles

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_type="a", event_id=1, ts=t0 + dt.timedelta(hours=8), value=5.0),
        Row(event_type="a", event_id=2, ts=t0 + dt.timedelta(hours=10), value=1.0),
        Row(event_type="a", event_id=3, ts=t0 + dt.timedelta(hours=12), value=9.0),
        Row(event_type="a", event_id=4, ts=t0 + dt.timedelta(hours=14), value=4.0),
    ]
    src = str(tmp_path / "ohlc_src")
    df = spark.createDataFrame(rows)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        ohlc_candles(
            stream, dims=["event_type"], ts="ts", value="value",
            unit="day", tiebreak="event_id",
        )
        .writeStream.format("memory")
        .queryName("ohlc_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .start()
    )
    q.awaitTermination()
    r = spark.sql("SELECT * FROM ohlc_out").collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n"]) == (
        5.0, 9.0, 1.0, 4.0, 4
    )


def test_streaming_partial_rollup_maintenance_foreachbatch(spark, sf_dir, tmp_path):
    """The incremental-materialization loop end-to-end: a file stream of
    events drives foreachBatch micro-batches, each batch's day-grain
    partial states upsert into a maintained parquet rollup table, and the
    final table merged to week grain equals the direct batch aggregate —
    the operators/rollup.py contract under streaming delivery (including a
    replayed batch being a no-op thanks to the keyed upsert)."""
    from riot_graphs_spark.operators.rollup import (
        daily_partials,
        merge_to_grain,
        upsert_partials,
    )
    from riot_graphs_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    src = str(tmp_path / "events_src")
    # several files => several micro-batches with maxFilesPerTrigger
    events.repartition(4).write.parquet(src)
    table_path = str(tmp_path / "rollup_table")

    import os as _os

    marker_dir = str(tmp_path / "batch_markers")
    _os.makedirs(marker_dir)

    def maintain(batch_df, batch_id):
        # Exactly-once under foreachBatch redelivery: merging states with
        # sum() is NOT replay-idempotent (a redelivered batch would
        # double-count into the absorbed states), so the recipe follows
        # the standard batch-id ledger — a replayed id is skipped whole.
        marker = _os.path.join(marker_dir, str(batch_id))
        if _os.path.exists(marker):
            return
        fresh = daily_partials(
            batch_df, dims=["event_type"], ts="ts", value="value"
        )
        s = batch_df.sparkSession
        try:
            existing = s.read.parquet(table_path)
        except Exception:
            existing = fresh.limit(0)
        # A micro-batch may split a (day, type) grain across batches:
        # merge the fresh partials with the existing STATES (states add),
        # then replace the touched grain keys.
        merged = (
            existing.unionByName(fresh)
            .groupBy("bucket", "event_type")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("sum_value").cast("decimal(28,6)").alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )
        out = upsert_partials(existing, merged, dims=["event_type"])
        out.write.mode("overwrite").parquet(table_path + ".tmp")
        s.read.parquet(table_path + ".tmp").write.mode("overwrite").parquet(
            table_path
        )
        open(marker, "w").close()  # commit the ledger entry LAST

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_rollup"))
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(table_path)
    got = merge_to_grain(final, dims=["event_type"], grain="week")
    expected = merge_to_grain(
        daily_partials(events, dims=["event_type"], ts="ts", value="value"),
        dims=["event_type"],
        grain="week",
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }

    # Redeliver a batch (foreachBatch's at-least-once contract): the
    # ledger must make the replay a no-op, not a double count.
    before = {tuple(r) for r in spark.read.parquet(table_path).collect()}
    maintain(events.limit(500), 0)  # batch id 0 already committed
    after = {tuple(r) for r in spark.read.parquet(table_path).collect()}
    assert after == before


def test_record_baseline_counts_fixed_bins_and_carries_its_stamp(spark):
    """Drift calibration (streaming/drift.py): the baseline artifact is its
    per-(group, bin) counts under the fixed clamp bins, and a
    ``recorded_at`` stamp rides along as a column."""
    from riot_graphs_spark.streaming.drift import record_baseline

    spec = dict(value_col="value", lo=0.0, hi=100.0, nbuckets=10,
                group_cols=["grp"])
    baseline = spark.createDataFrame(
        [("g", v) for v in [5.0, 15.0, 25.0, 35.0] * 25],
        "grp string, value double",
    )
    counts = record_baseline(baseline, **spec)
    assert {(r.bin, r.n) for r in counts.collect()} == {
        (0, 25), (1, 25), (2, 25), (3, 25)
    }
    assert "recorded_at" not in counts.columns
    stamped = record_baseline(
        baseline, recorded_at="2020-01-01 00:00:00", **spec
    )
    assert {str(r.recorded_at) for r in stamped.collect()} == {
        "2020-01-01 00:00:00"
    }


def test_ks_against_baseline_cdf_sees_a_within_bin_shift(spark):
    """KS drift scoring (streaming/drift.py): the recorded CDF artifact
    keeps exact cumulative counts at its equi-depth edges, a batch from
    the baseline distribution scores D == 0, and a shift inside one value
    range the baseline never reaches scores D == 1."""
    from riot_graphs_spark.streaming.drift import (
        ks_against_baseline_cdf,
        record_baseline_cdf,
    )

    baseline = spark.createDataFrame(
        [("g", v) for v in [10.0, 20.0, 30.0, 40.0] * 25],
        "grp string, value double",
    )
    cdf = record_baseline_cdf(baseline, "value", nbins=4, group_cols=["grp"])
    got = {(r.grp, r._v): (r.cum, r.n) for r in cdf.collect()}
    # equi-depth edges = the four values; exact cumulative counts; the
    # max value is always recorded so the restricted CDF ends at 1
    assert got == {
        ("g", 10.0): (25, 100), ("g", 20.0): (50, 100),
        ("g", 30.0): (75, 100), ("g", 40.0): (100, 100),
    }

    def score(values):
        batch = spark.createDataFrame(
            [("g", v) for v in values], "grp string, value double"
        )
        rows = ks_against_baseline_cdf(cdf, batch, "value", ["grp"]).collect()
        assert len(rows) == 1 and rows[0].n_a == 100
        return rows[0].n_b, rows[0].ks_d

    assert score([10.0, 20.0, 30.0, 40.0] * 5) == (20, 0.0)
    # every batch value sits above the baseline's whole mass: D = 1
    assert score([41.0, 45.0, 48.0, 49.0] * 4) == (16, 1.0)


def test_stream_session_stats_finalizes_on_watermark(spark, tmp_path):
    """Streaming sessionization (streaming/sessions.py): sessions emit in
    append mode exactly when the watermark passes last_ts + gap; an open
    recent session stays in state (not emitted); a replayed trigger does
    not duplicate finalized sessions."""
    import datetime as dt
    import json as _json

    from riot_graphs_spark.streaming.sessions import stream_session_stats

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def iso(m):
        return (t0 + dt.timedelta(minutes=m)).strftime("%Y-%m-%dT%H:%M:%S")

    landing = tmp_path / "landing"
    landing.mkdir()
    # user 7: burst at t+0..t+10 (one session), then nothing until the
    # far-future row from user 9 advances the watermark past its close.
    # user 9: a very recent burst that must stay open/unemitted.
    with open(landing / "b1.json", "w") as f:
        for m, u, v in [(0, 7, 1.0), (5, 7, 2.0), (10, 7, 3.0)]:
            f.write(_json.dumps({"ts": iso(m), "user_id": u, "value": v})
                    + "\n")
        for m, u, v in [(600, 9, 5.0), (605, 9, 5.0)]:
            f.write(_json.dumps({"ts": iso(m), "user_id": u, "value": v})
                    + "\n")

    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(
                "ts timestamp, user_id bigint, value double"
            ).json(str(landing))
        )
        q = (
            stream_session_stats(
                stream, gap="30 minutes", watermark="1 hour"
            )
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events,
             r.value_sum)
            for r in spark.read.parquet(out).collect()
        }

    got1 = run()
    # watermark after batch 1 = t+605m - 60m = t+545m: user 7's session
    # (closes t+10+30=t+40) finalizes; user 9's is still open
    assert got1 == {
        (7, t0, t0 + dt.timedelta(minutes=40), 3, 6.0)
    }

    # replay with no new data: nothing re-emits (checkpointed state)
    assert run() == got1

    # a far-future row advances the watermark past user 9's close
    with open(landing / "b2.json", "w") as f:
        f.write(_json.dumps(
            {"ts": iso(2000), "user_id": 1, "value": 0.0}) + "\n")
    got3 = run()
    assert (
        9,
        t0 + dt.timedelta(minutes=600),
        t0 + dt.timedelta(minutes=635),
        2,
        10.0,
    ) in got3
    assert len(got3) == 2  # user 1's own session still open


def test_streaming_ab_guardrail_cumulative_verdicts(spark, tmp_path):
    """Continuous A/B guardrail (streaming/guardrail.py): per-batch
    counts land in the ledger, every batch's verdict row scores the
    CUMULATIVE contingency table — a treatment lift that only clears
    significance once enough batches accumulate must flip the flag on
    the later batch, and a balanced split must never trip SRM."""
    import json as _json

    from riot_graphs_spark.streaming.guardrail import ab_guardrail_writer

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "b1.json", "w") as f:  # balanced, equal rates
        for i in range(50):
            f.write(_json.dumps({"arm": "0", "converted": i < 10}) + "\n")
        for i in range(50):
            f.write(_json.dumps({"arm": "1", "converted": i < 10}) + "\n")
    with open(landing / "b2.json", "w") as f:  # treatment lift in arm a
        for i in range(40):
            f.write(_json.dumps({"arm": "0", "converted": i < 30}) + "\n")
        for i in range(40):
            f.write(_json.dumps({"arm": "1", "converted": i < 10}) + "\n")

    stream = (
        spark.readStream.schema("arm string, converted boolean")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    monitor = str(tmp_path / "monitor")
    q = (
        stream.writeStream.foreachBatch(ab_guardrail_writer(monitor))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    rows = {
        r.n_batches: r
        for r in spark.read.parquet(f"{monitor}/report").collect()
    }
    assert set(rows) == {1, 2}
    final = rows[2]
    # cumulative table is order-independent: 90/90 split, 40 vs 20 hits
    assert (final.n_a, final.k_a, final.n_b, final.k_b) == (90, 40, 90, 20)
    assert final.srm_chi2 == 0.0 and not final.srm
    assert final.significant and final.z > 1.96
    # the balanced first batch alone must not be significant
    assert not rows[1].significant


def test_streaming_ab_guardrail_replay_idempotent(spark, tmp_path):
    """Replay idempotency: re-delivering a micro-batch re-appends an
    identical ledger row that the cumulative dedup collapses, so totals and
    verdicts are unchanged."""
    from riot_graphs_spark.streaming.guardrail import ab_guardrail_writer

    monitor = str(tmp_path / "mon")
    writer = ab_guardrail_writer(monitor)

    def batch(rows):
        return spark.createDataFrame(rows, "arm string, converted boolean")

    b0 = batch([("0", True)] * 6 + [("1", False)] * 4)
    b1 = batch([("0", False)] * 3 + [("1", True)] * 7)
    writer(b0, 0)
    writer(b1, 1)
    writer(b1, 1)  # at-least-once re-delivery

    ledger = spark.read.parquet(f"{monitor}/ledger").collect()
    assert len(ledger) == 3  # replay re-appended...
    reports = spark.read.parquet(f"{monitor}/report").collect()
    by_batches = {r.n_batches: r for r in reports if r.batch_id == 1}
    final = by_batches[2]  # ...but dedup collapsed it
    assert (final.n_a, final.k_a, final.n_b, final.k_b) == (9, 6, 11, 7)
    assert len([r for r in reports if r.batch_id == 1]) == 2
    assert all(r == final for r in reports if r.batch_id == 1)


def test_streaming_ab_guardrail_srm_fires_on_broken_split(spark, tmp_path):
    """A 90/10 observed split against a designed 50/50 must trip the SRM
    alarm at the 0.001 threshold — the broken-assignment incident the
    guardrail exists for — while the two-proportion readout stays
    computable on the skewed cells."""
    from riot_graphs_spark.streaming.guardrail import ab_guardrail_writer

    monitor = str(tmp_path / "mon")
    writer = ab_guardrail_writer(monitor)
    rows = [("0", True)] * 450 + [("1", True)] * 50
    df = spark.createDataFrame(rows, "arm string, converted boolean")
    writer(df, 0)
    r = spark.read.parquet(f"{monitor}/report").collect()[0]
    assert (r.n_a, r.n_b) == (450, 50)
    # chi2 = (450-250)^2/250 + (50-250)^2/250 = 320
    assert r.srm_chi2 == 320.0
    assert r.srm and r.srm_p < 0.001
    assert r.rate_a == 1.0 and r.rate_b == 1.0
