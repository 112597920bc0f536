"""Scan-parallelism guard for per-row-heavy pipelines.

A small or compacted table (one parquet row group) arrives as ONE input
split, so every row-local-expensive stage built on it — tokenize +
shingle + MinHash, per-bit SimHash terms, winnowing sparse tables,
language-profile scoring — runs on a single task while every other core
idles (optimization guide §2.6, stragglers and idle capacity).  Row-group
granularity means ``spark.sql.files.maxPartitionBytes`` cannot split such
a file, so the only fix is an explicit round-robin spread.

The spread is GATED: it fires only when the scan has fewer splits than
the cluster has slots, so at real scale (any table big enough to have
>= cores row groups) it is a no-op and no extra exchange appears in the
plan.  It is applied inside the per-row-heavy operators — never blanket
at the table reader — because a scan-light query (an md5 fingerprint, a
projection) loses more to the extra stage than the parallelism returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Logical-plan nodes that put an exchange (or a driver-side barrier)
#: between the scan and this operator.  Their presence means the input is
#: NOT scan-shaped: its runtime partitioning is set by the shuffle (and
#: AQE), not by the file layout, so the spread must not fire — and, more
#: importantly, the ``df.rdd`` probe below must not run: with AQE enabled
#: ``Dataset.rdd`` forces ``finalPhysicalPlan``, which EXECUTES every
#: exchange in the plan as blocking driver-side jobs at gate-call time
#: (measured: +1 job / 0.23 s for one RR exchange at sf0.1 — per call).
#: Matched against node class names (``nodeName``), never the plan's
#: text, so a column aliased ``Sort`` or a literal containing ``Join``
#: cannot switch the spread off.
_SHUFFLE_NODES = frozenset({
    "Aggregate", "Join", "Window", "Sort", "Repartition",
    "RepartitionByExpression", "RebalancePartitions", "Deduplicate",
    "Distinct", "Intersect", "Except", "GroupingSets", "Expand", "CoGroup",
    "FlatMapGroupsInPandas", "FlatMapGroupsWithState",
})


def _shuffled(df: DataFrame) -> bool:
    """True when *df*'s optimized logical plan holds a node of
    :data:`_SHUFFLE_NODES` — a compile-only walk over ``children``."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _SHUFFLE_NODES:
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition *df* to the default parallelism when (and
    only when) its current plan yields fewer partitions — the
    under-partitioned-scan straggler fix for compute-heavy per-row
    pipelines.  Results are row-local and therefore identical under any
    partitioning; round-robin repartition is deterministic under task
    retry (Spark sorts before repartitioning, SPARK-23207).

    Preconditions and limits (r14, from the r13 ADVICE audit):

    - **Scan-shaped inputs only.** ``df.rdd.getNumPartitions()`` reports
      the pre-AQE static partition count; for a frame downstream of a
      shuffle it reads ``spark.sql.shuffle.partitions`` (~200) and the
      gate silently never fires even when AQE coalesces to one partition
      at runtime.  Call sites therefore apply this directly on (a narrow
      projection of) a table scan, before any exchange.
    - **Project first.** The sort-before-repartition (SPARK-23207) and
      the exchange itself carry EVERY column of *df* — spread a narrow
      ``df.select(...)`` of just the columns the heavy stage needs, never
      a full wide row (guide §2.3 "project before the exchange").
    - **No MapType columns.** The SPARK-23207 sort orders all columns and
      maps are unorderable — a map column here fails at runtime.  Project
      maps away (or serialize them) before spreading.
    - Each call compiles the physical plan once (driver-side cost of
      ``df.rdd``); keep it out of per-iteration loops."""
    if df.isStreaming:
        # partition counting needs a batch plan; micro-batches get their
        # parallelism from the source anyway
        return df
    # Scan-shaped gate (r14): if anything between the scan and here
    # already shuffles, the input's parallelism is the shuffle's (AQE-
    # managed) — the spread would be redundant, and probing ``df.rdd``
    # would eagerly execute those exchanges driver-side (see
    # _SHUFFLE_NODES).
    if _shuffled(df):
        return df
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
