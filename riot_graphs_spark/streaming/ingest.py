"""Structured Streaming ingestion — the reference's `/update` incremental
refresh (E3, ``riot_graphs/rg.py:119-156``, ``server.py:11-17``) re-expressed
with checkpointed offsets (SURVEY §2.6 O1-O5).

What each reference mechanism becomes:

- manual "query the sink for the newest stored hash" offset store
  (``rg.py:129-143``, S9+J3)  → the streaming **checkpoint** — no code;
- per-request delta scan (``git log {sha}..HEAD``, S3) → file-source
  incremental listing of the landing zone;
- HTTP `/update` trigger (``server.py:11-17``) → ``trigger(availableNow=True)``
  fired per call — processes exactly the new files, then stops (O1). The
  stream's plan is built and analyzed once per server (one kept writer per
  session, landing zone, sink and checkpoint); each call only starts one
  availableNow pass of it, since between runs only the checkpoint's
  offsets move;
- InfluxDB point-overwrite idempotency (O2) → the ``build_sizes`` sink's
  keyed append (:func:`..sources.sinks.merge_append`: batch-local dedupe +
  left-anti merge against the sink) inside ``foreachBatch`` — exactly-once
  against replays;
- late/missing data tolerance (O4) → ``withWatermark`` on event time.

The transformation body is shared with the batch plans
(:func:`..plans.riot.build_sizes_from_raw`) and the sink append is shared
with ``fetch`` (:func:`..plans.fetch.batch_fetch`) — batch and streaming run
the same DataFrame functions, per SURVEY §7 step 4.

Every call logs one JSON record (logger ``riot_graphs_spark.streaming.ingest``,
level INFO) read off the finished query's progress: new rows, micro-batches,
input rows, the summed per-phase durations and the last watermark.

Scale notes: file-source listing is incremental; the foreachBatch merge
touches only the sink partitions whose dates appear in the batch
(partition-pruned anti-join on date).
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import SparkSession

from ..plans.riot import build_sizes_from_raw
from ..schemas import SIZES_RAW
from ..sources.sinks import BUILD_SIZES_KEY, merge_append

#: Event-time watermark on the landed documents (O4 late-data tolerance).
WATERMARK = "2 days"

#: Progress phases (``durationMs`` keys) summed into the per-call record.
_PHASES = (
    "triggerExecution", "addBatch", "latestOffset", "walCommit",
    "commitOffsets", "queryPlanning",
)

_log = logging.getLogger(__name__)

#: The kept ``/update`` stream: ``(key, writer, counts)``, where ``key`` is
#: ``(session, landing_dir, sink_path, checkpoint_dir)`` and ``counts``
#: collects the writer's ``merge_append`` results. One entry: another key
#: replaces it.
_stream: tuple | None = None


def incremental_refresh(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
) -> int:
    """The `/update` endpoint body (reference ``server.py:11-17``): run one
    availableNow pass over whatever landed since the last checkpoint, block
    until done, return the number of NEW rows ingested by this call
    (reference ``rg.py:156`` returns ``len(data)`` — the delta, not the
    sink total). A refresh with nothing new returns 0.

    The analyzed stream writer is built on the first call and reused while
    the session object and the three paths stay the same; any other
    combination replaces it. A kept writer is started once per call, so
    callers serialize calls per checkpoint, as the server's ``/update``
    lock does. Logs one JSON record per call (module docstring)."""
    global _stream
    key = (spark, landing_dir, sink_path, checkpoint_dir)
    entry = _stream
    if entry is None or entry[0] != key:
        raw = spark.readStream.schema(SIZES_RAW).option("multiLine", "true").json(
            landing_dir
        )
        flat = build_sizes_from_raw(raw.withWatermark("ts", WATERMARK))
        counts: list[int] = []
        writer = (
            flat.writeStream.foreachBatch(
                lambda df, _epoch: counts.append(
                    merge_append(df, sink_path, BUILD_SIZES_KEY)
                )
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
        entry = _stream = (key, writer, counts)
    _, writer, counts = entry
    counts.clear()  # a failed call must not leak its counts into this one
    query = writer.start()
    query.awaitTermination()
    n = sum(counts)
    _log.info(json.dumps(_progress_record(n, query.recentProgress)))
    return n


def _progress_record(rows: int, progress) -> dict:
    """The per-call record from one pass's ``recentProgress``. A trigger
    that found nothing new reports progress too but runs no batch, so only
    entries with an ``addBatch`` phase count as micro-batches."""
    marks = [p.eventTime["watermark"] for p in progress if "watermark" in p.eventTime]
    return {
        "rows": rows,
        "micro_batches": sum("addBatch" in p.durationMs for p in progress),
        "input_rows": sum(p.numInputRows for p in progress),
        "duration_ms": {
            k: sum(p.durationMs.get(k, 0) for p in progress) for k in _PHASES
        },
        "watermark": marks[-1] if marks else None,
    }
