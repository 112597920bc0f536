"""Change-data-capture compaction: fold an append-only change log into the
current table state.

The reference's sink relies on InfluxDB's (measurement, tags, time) point
overwrite for idempotent re-ingestion (SURVEY §2.6 O2, `rg.py:106-117` +
`README.md:22-23`); this module is the general form of that upsert surface —
a keyed change log with inserts/updates/deletes, compacted to
last-writer-wins state. It is also the batch half of a streaming CDC apply:
`foreachBatch(lambda b, _: apply_changelog(b, ...))` over a Debezium-style
feed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changelog(
    df: DataFrame,
    keys: Sequence[str],
    seq: Sequence[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Last-writer-wins compaction: for each key, keep the change row with
    the highest ``seq`` (a total order — pass a tiebreak column after the
    timestamp to make it one); if that winning row's ``op_col`` equals
    ``delete_op``, the key is a tombstone and is dropped entirely.

    The result is final, not incremental state: a dropped tombstone forgets
    that the key died, so compacting it again with a late change of lower
    ``seq`` would resurrect the key. Compact the whole log instead.

    Returns the surviving rows with the original column set.

    Scale posture: ONE partial-aggregable shuffle — ``max_by(struct(*), seq)``
    per key, so executors pre-reduce each key to a single candidate row
    map-side before exchanging (a rank-then-filter window would sort whole
    partitions and keep every change row in shuffle memory; this keeps one
    row per key per mapper). Constant state per key regardless of how many
    times the key changed.
    """
    cols = df.columns
    order_key = F.struct(*[F.col(c) for c in seq])
    row = F.struct(*[F.col(c) for c in cols])
    compacted = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(row, order_key).alias("_last")
    )
    compacted = compacted.where(F.col(f"_last.{op_col}") != F.lit(delete_op))
    return compacted.select(*[F.col(f"_last.{c}").alias(c) for c in cols])


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    seq: Sequence[str],
    op_col: str,
    attrs: Sequence[str],
    delete_op: str = "D",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the same change log:
    one validity-interval row per change — ``valid_from`` is the change's
    timestamp (``seq[0]``), ``valid_to`` the key's NEXT change (NULL while
    current), ``is_current`` the open-interval flag.

    A delete closes its predecessor's interval (its timestamp becomes that
    row's ``valid_to`` via the lead over ALL changes) but contributes no
    interval row itself — so a deleted-then-reinserted key has a gap in its
    history, exactly the point-in-time semantics ``FOR SYSTEM_TIME AS OF``
    queries need.

    Returns ``(*keys, *attrs, valid_from, valid_to, is_current)``. One
    window shuffle on ``keys`` ordered by ``seq``; unlike
    :func:`apply_changelog` this op genuinely needs every change row in the
    output, so a window (not ``max_by``) is the right plan.
    """
    ts_col = seq[0]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in seq]
    )
    return (
        df.withColumn("valid_to", F.lead(ts_col).over(w))
        .where(F.col(op_col) != F.lit(delete_op))
        .select(
            *keys,
            *attrs,
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
