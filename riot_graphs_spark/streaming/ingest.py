"""Structured Streaming ingestion — the reference's `/update` incremental
refresh (E3, ``riot_graphs/rg.py:119-156``, ``server.py:11-17``) re-expressed
with checkpointed offsets (SURVEY §2.6 O1-O5).

What each reference mechanism becomes:

- manual "query the sink for the newest stored hash" offset store
  (``rg.py:129-143``, S9+J3)  → the streaming **checkpoint** — no code;
- per-request delta scan (``git log {sha}..HEAD``, S3) → file-source
  incremental listing of the landing zone;
- HTTP `/update` trigger (``server.py:11-17``) → ``trigger(availableNow=True)``
  fired per call — processes exactly the new files, then stops;
- InfluxDB point-overwrite idempotency (O2) → the ``build_sizes`` sink's
  keyed append (:func:`..sources.sinks.merge_append`: batch-local dedupe +
  left-anti merge against the sink) inside ``foreachBatch`` — exactly-once
  against replays;
- late/missing data tolerance (O4) → ``withWatermark`` on event time.

The transformation body is shared with the batch plans
(:func:`..plans.riot.build_sizes_from_raw`) and the sink append is shared
with ``fetch`` (:func:`..plans.fetch.batch_fetch`) — batch and streaming run
the same DataFrame functions, per SURVEY §7 step 4.

Scale notes: file-source listing is incremental; the foreachBatch merge
touches only the sink partitions whose dates appear in the batch
(partition-pruned anti-join on date).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.riot import build_sizes_from_raw
from ..schemas import SIZES_RAW
from ..sources.sinks import BUILD_SIZES_KEY, merge_append

#: Event-time watermark on the landed documents (O4 late-data tolerance).
WATERMARK = "2 days"


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
    sink total). A refresh with nothing new returns 0."""
    raw = spark.readStream.schema(SIZES_RAW).option("multiLine", "true").json(
        landing_dir
    )
    flat = build_sizes_from_raw(raw.withWatermark("ts", WATERMARK))
    counts: list[int] = []
    (
        flat.writeStream.foreachBatch(
            lambda df, _epoch: counts.append(
                merge_append(df, sink_path, BUILD_SIZES_KEY)
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return sum(counts)


def stream_events_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    watermark: str = "1 hour",
    window_len: str = "1 hour",
):
    """G1-in-streaming: watermarked tumbling-window rollup per event_type —
    the InfluxQL ``GROUP BY time(1h)`` continuous query. State is bounded by
    the watermark (O4); emits finalized windows in append mode."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
