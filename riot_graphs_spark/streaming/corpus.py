"""Streaming corpus ingestion — the curation stack's streaming face: a
crawl/landing zone of JSONL documents flows through normalize → fingerprint
→ within-watermark dedup → quality gate → date-partitioned parquet corpus,
with checkpointed offsets (the continuous version of the batch curation
pipeline a 100-TB crawl refresh runs).

Stage shapes (all shared with the batch operators — same functions, same
plans, per SURVEY §7 step 4):

- **normalize** — :func:`..operators.textstats.normalize_text`: row-local,
  zero extra state;
- **dedup** — ``dropDuplicatesWithinWatermark`` on the md5 fingerprint of
  the NORMALIZED text (tag soup differing only in markup collapses to one
  doc). State is bounded by the watermark horizon — exactly-once per
  fingerprint within it; cross-horizon replays are absorbed by the keyed
  anti-join merge in the sink (the same two-tier idempotency as the
  build-sizes ingest);
- **quality gate** — Gopher flags + quality score computed in-stream; rows
  failing ``gopher_keep`` are dropped at the map side (never shuffled,
  never written);
- **sink** — the ``build_sizes`` sink's date-partitioned append
  (:func:`..sources.sinks.merge_append`), keyed on the fingerprint, so
  the corpus directory is always safely re-readable mid-ingest.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import incremental_novel_docs, minhash_band_buckets
from ..operators.textstats import (
    gopher_quality_flags,
    normalize_text,
    quality_score,
)
from ..sources.fs import path_exists
from ..sources.sinks import merge_append

#: Landing-zone document schema: JSONL with a crawl timestamp.
DOCS_RAW = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)

CORPUS_KEY = ["fingerprint"]


def curate_docs_batch(docs):
    """The shared transformation body (batch AND streaming — call it on
    either kind of DataFrame): normalize, fingerprint the clean text,
    attach quality score + Gopher flags, drop rejects. Row-local end to
    end — zero shuffles before the dedup/sink stages."""
    cleaned = (
        normalize_text(docs, out_col="text_clean")
        .withColumn(
            "fingerprint", F.md5(F.coalesce(F.col("text_clean"), F.lit("")))
        )
        .drop("text", "n_removed_chars")
        .withColumnRenamed("text_clean", "text")
    )
    flagged = gopher_quality_flags(quality_score(cleaned))
    return flagged.filter(F.col("gopher_keep")).select(
        "doc_id", "ts", "lang", "source", "fingerprint", "text", "quality_score"
    )


def stream_corpus_ingest(
    spark: SparkSession,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    watermark: str = "2 days",
    available_now: bool = True,
    batch_counts: list[int] | None = None,
    near_dedup_buckets_path: str | None = None,
):
    """Start the streaming corpus ingest; returns the StreamingQuery
    (``available_now`` → await termination for /update-style semantics).
    Each micro-batch's count of NEW docs written lands in ``batch_counts``.

    ``near_dedup_buckets_path`` adds NEAR-dup filtering against the corpus
    ingested so far: a MinHash band-bucket side table is maintained at that
    path — each batch is anti-joined against it
    (:func:`..operators.dedup.incremental_novel_docs` with
    ``corpus_buckets``: a (band, band_key) semi-join, O(batch) per batch,
    never a corpus text re-scan), and the surviving docs' buckets are
    appended for the next batch. Caveats, by design:

    - intra-batch near-dups both pass (buckets only reflect PRIOR batches);
      verbatim intra-horizon dups are already dropped by the watermark
      dedup, and a periodic batch LSH pass owns the residual;
    - a batch replayed after a crash between the corpus write and the
      bucket write re-appends its bucket rows — duplicate bucket rows are
      harmless to the semi-join (same key), just dead weight; compact the
      side table with the corpus' maintenance cycle.
    """
    raw = spark.readStream.schema(DOCS_RAW).json(landing_dir)
    curated = curate_docs_batch(raw.withWatermark("ts", watermark))
    deduped = curated.dropDuplicatesWithinWatermark(CORPUS_KEY)

    def _ingest(df, _epoch) -> None:
        batch = df
        if near_dedup_buckets_path is not None:
            bspark = df.sparkSession
            if path_exists(bspark, near_dedup_buckets_path):
                # the side table's schema is the bucket projection's, known
                # from the plan: no per-batch schema-inference job
                buckets = bspark.read.schema(
                    minhash_band_buckets(batch).schema
                ).parquet(near_dedup_buckets_path)
                batch = incremental_novel_docs(
                    batch, None, corpus_buckets=buckets
                )
            batch = batch.persist()
        try:
            n = merge_append(batch, sink_path, CORPUS_KEY)
            if batch_counts is not None:
                batch_counts.append(n)
            if near_dedup_buckets_path is not None:
                minhash_band_buckets(batch).write.mode("append").parquet(
                    near_dedup_buckets_path
                )
        finally:
            if near_dedup_buckets_path is not None:
                batch.unpersist()

    writer = deduped.writeStream.foreachBatch(_ingest).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
