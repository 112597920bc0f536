"""Batch fetch — the reference's ``fetch --days=N`` / ``--history=N``
entry point (E1/E2, reference ``riot-graph.py:11-35``, ``rg.py:52-117``)
as ONE batch query over the landing zone.

The reference loops: for each day, git-scan + HTTP-fetch + push
(``retrieve_history``, ``rg.py:43-50`` — O(N) sequential round trips).
Spark-first, the day loop disappears (SURVEY E2 → "the same query with a
wider time predicate"): one read of the landed ``sizes.json`` documents,
one anchored-window filter, one keyed append into the date-partitioned
``build_sizes`` sink (:func:`..sources.sinks.merge_append`, the same append
`/update` runs). Backfilling 1000 days costs one job, not 1000.

Windows match the reference's 24h-ending-03:00-UTC semantics
(``fetch_stats_from``, ``rg.py:52-60``; P8): day N in the past is the 24h
window ending at the most recent 03:00 anchor minus N days.

``--noop`` (S8, reference ``riot-graph.py --noop``) runs the same plan as
a real fetch — scan, parse, window, dedupe, pruned anti-join against the
sink — into a noop-format write: it reports exactly the rows a real fetch
would ingest and verifies everything except the append.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import SIZES_RAW
from ..sources.sinks import BUILD_SIZES_KEY, merge_append
from .riot import build_sizes_from_raw

#: Hour (UTC) at which each fetch day ends — the reference's 03:00 anchor.
ANCHOR_HOUR = 3


def _anchor(now: dt.datetime) -> dt.datetime:
    """Most recent 03:00 anchor at or before ``now`` (reference rg.py:54-58:
    'the 24h window ends at 03:00 UTC today, or yesterday if before 03:00')."""
    a = now.replace(hour=ANCHOR_HOUR, minute=0, second=0, microsecond=0)
    if a > now:
        a -= dt.timedelta(days=1)
    return a


def batch_fetch(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    days: int = 0,
    history: int | None = None,
    noop: bool = False,
    now: dt.datetime | None = None,
) -> int:
    """Run one E1/E2 fetch; returns the number of NEW rows ingested
    (``--noop``: the number that WOULD be ingested, sink untouched).

    ``history=N`` covers the last N anchored days in one predicate;
    otherwise ``days=N`` covers exactly day N in the past. ``now`` is
    injectable for deterministic tests (defaults to UTC wall clock).
    """
    if now is None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    anchor = _anchor(now)
    if history is not None:
        lo, hi = anchor - dt.timedelta(days=history), anchor
    else:
        hi = anchor - dt.timedelta(days=days)
        lo = hi - dt.timedelta(days=1)

    raw = spark.read.schema(SIZES_RAW).option("multiLine", "true").json(landing_dir)
    flat = build_sizes_from_raw(raw).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    )
    return merge_append(flat, sink_path, BUILD_SIZES_KEY, noop=noop)
