"""Explicit StructType schemas for the RIOT-domain tables — the reference's
own data model (SURVEY §1.1, FIXTURES.md §A).

The reference has no schema system — types live in constructor signatures and
``int()`` casts (reference ``riot_graphs/rg.py:292-299, 319-320``); InfluxDB
applies schema-on-write. We invert that: these tables have a fixed, explicit
schema here, and their readers pass it (schema inference on a 100 TB landing
zone is a full extra scan). The driver's synthetic tables are read with
inference (``sources.tables.load_table``), which the nanosecond
``events.ts`` path needs; only their ``events.props`` JSON payload has a
schema here.
"""

from __future__ import annotations

from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# RIOT-domain tables (reference data model, SURVEY §1)
# --------------------------------------------------------------------------

#: One nightly CI document (reference ``rg.py:96-102, 269-285``):
#: ``{"sizes": {test: {board: {bss, text, data, count?}}}}``.
#: ``count`` is optional with default 0 (``rg.py:279``) → nullable here, P4 coalesce.
BUILD_METRICS = StructType(
    [
        StructField("bss", LongType()),
        StructField("text", LongType()),
        StructField("data", LongType()),
        StructField("count", LongType()),
    ]
)

SIZES_RAW = StructType(
    [
        StructField("ts", TimestampType()),  # HTTP Last-Modified, tz-correct (vs rg.py:101)
        StructField("sha", StringType()),
        StructField("sizes", MapType(StringType(), MapType(StringType(), BUILD_METRICS))),
    ]
)

#: Flattened fact table, one row per (ts, test, board) — reference ``rg.py:301-315``.
#: Upsert key (test, board, ts): InfluxDB point-overwrite semantics (SURVEY §2.6 O2).
BUILD_SIZES = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("test", StringType()),
        StructField("board", StringType()),
        StructField("bss", LongType()),
        StructField("data", LongType()),
        StructField("text", LongType()),
        StructField("dec", LongType()),  # bss + text + data (rg.py:298)
    ]
)

#: Parsed git merge log (reference ``rg.py:211-223``).
COMMITS = StructType(
    [
        StructField("hash", StringType()),
        StructField("date", TimestampType()),
        StructField("msg", StringType()),
    ]
)

#: GitHub PR enrichment dimension (reference ``rg.py:356-362``).
PRS = StructType(
    [
        StructField("pr_num", LongType()),
        StructField("title", StringType()),
    ]
)

#: Event/annotation sink (reference ``rg.py:331-348``).
PR_EVENTS = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("pr_num", LongType()),
        StructField("hash", StringType()),
        StructField("title", StringType()),
        StructField("event", StringType()),
        StructField("description", StringType()),
    ]
)

#: Schema for the ``events.props`` JSON payload.
EVENT_PROPS = StructType([StructField("k", LongType())])
