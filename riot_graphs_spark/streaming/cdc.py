"""Streaming CDC materialization: keep a current-state table continuously
compacted from a change-log landing zone.

This is the streaming half of :mod:`..operators.cdc` — the same
``apply_changelog`` transformation runs inside ``foreachBatch`` (batch and
streaming share the transformation body, SURVEY §7 step 4). Incremental
correctness falls out of last-writer-wins being associative: compacting
(compacted-state ∪ new-changes) equals compacting the full log, so each
micro-batch only touches the current state plus its own rows — never the
historical log. Associativity requires TOMBSTONES TO STAY IN STATE
(``keep_tombstones=True``): a dropped delete would let a late-arriving
older change resurrect its key, silently diverging from full-log
compaction. Deletes are filtered only when the state is read. The
checkpoint replaces any "query the sink for the last applied change"
readback (SURVEY §2.6 O5).

Scale notes: state is one row per live key (bounded by key cardinality, not
log length); the per-batch cost is one max_by shuffle over state + batch.
With a transactional table format the overwrite becomes a keyed MERGE INTO
touching only changed keys; on plain parquet the state table is rewritten,
which is the right trade at dimension-table cardinalities (the usual CDC
target) — fact-sized targets should use the date-partitioned keyed append
(:func:`..sources.sinks.merge_append`) instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from ..operators.cdc import apply_changelog
from ..sources.fs import path_exists, replace_dir


def materialize_changelog(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    keys: Sequence[str],
    seq: Sequence[str],
    op_col: str,
    delete_op: str = "D",
) -> int:
    """Process all new change files (availableNow), fold them into the
    state parquet at ``state_path`` (tombstones retained), and return the
    number of LIVE keys after the run. Re-running with no new files is a
    no-op (checkpoint offsets); replaying a batch converges to the same
    state (LWW); late data older than a key's tombstone cannot resurrect it.
    Read the live view with ``current_state``.
    """
    stream = spark.readStream.schema(schema).json(landing_dir)

    def merge(batch_df, batch_id: int) -> None:
        # Existence is probed explicitly: a corrupt/unreadable EXISTING
        # state must fail the batch (streaming retry), never be silently
        # treated as first-batch — that would discard all accumulated state.
        bspark = batch_df.sparkSession
        if path_exists(bspark, state_path):
            state = bspark.read.parquet(state_path)
            merged = state.unionByName(batch_df.select(*state.columns))
        else:
            merged = batch_df
        compacted = apply_changelog(
            merged, keys=keys, seq=seq, op_col=op_col, delete_op=delete_op,
            keep_tombstones=True,
        )
        # Write the new state beside the old one, then swap: the old state
        # is only deleted after the replacement is fully durable, so an
        # executor/driver loss mid-write can never destroy the only copy.
        tmp_path = f"{state_path}__tmp_{batch_id}"
        compacted.write.mode("overwrite").parquet(tmp_path)
        replace_dir(bspark, tmp_path, state_path)

    (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )
    if not path_exists(spark, state_path):  # no change ever processed
        return 0
    return current_state(spark, state_path, op_col, delete_op).count()


def current_state(
    spark: SparkSession, state_path: str, op_col: str, delete_op: str = "D"
):
    """Live view of a materialized change-log state: tombstoned keys
    filtered out (the state itself keeps them — see module docstring)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(state_path).where(
        F.col(op_col) != F.lit(delete_op)
    )
