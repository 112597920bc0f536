"""Join operators (SURVEY §2.3 J1-J3).

Scale rules applied here:

- Dimension enrichment (J2) broadcasts the small side explicitly — the
  reference does an N+1 HTTP lookup per row (``riot_graphs/rg.py:356-362``);
  at scale that is a broadcast hash join against an ingested dimension table,
  never a per-row RPC.
- Delta detection (J3) is a left-anti join on the key — shuffle-partitioned
  on the key, or broadcast when the "already stored" side is a watermark-sized
  set. The reference's time-ordered shortcut (``rg.py:129-143``) is
  :func:`..operators.timeseries.top1_by_time` + a range filter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
) -> DataFrame:
    """J2 — attach dimension attributes to a fact table, broadcasting the
    dimension.

    ``how='left'`` preserves the reference's tolerance of missing PR metadata
    (``rg.py:361-362`` keeps an empty description on a GitHub miss).
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def delta_new_rows(
    incoming: DataFrame, stored: DataFrame, key: str | Sequence[str]
) -> DataFrame:
    """J3 — rows of ``incoming`` whose key is not yet in ``stored``
    (the reference's "commits not yet ingested", ``rg.py:129-143``).

    Left-anti join: robust against out-of-order arrival, unlike the
    reference's max-timestamp shortcut. In the streaming path this whole
    operator disappears into checkpoint offsets (SURVEY §2.6 O5).
    """
    keys = [key] if isinstance(key, str) else list(key)
    return incoming.join(stored.select(*keys), on=keys, how="left_anti")


def salted_join(
    fact: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side, replicate the other.

    A hot key (one board, one mega-customer) concentrates its rows in one
    shuffle partition and serializes the stage. Salting splits each fact key
    across ``salt_buckets`` random partitions and replicates the other side
    ``salt_buckets``× so every (key, salt) pair still meets — restoring
    parallelism at the cost of |other|·buckets replication, so use it when
    ``other`` is dimension-sized but too big (or too hot) to broadcast.

    AQE's skew-join handles *sort-merge* skew automatically; explicit salting
    remains the tool when the skewed side must hash-partition (e.g. to feed a
    downstream aggregation on the same key). Result equals the plain join
    (oracle-checked by ``j_salted_skew``).
    """
    keys = [on] if isinstance(on, str) else list(on)
    salted_fact = fact.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salts = F.explode(F.array(*[F.lit(s) for s in range(salt_buckets)]))
    replicated = other.withColumn("_salt", salts)
    return (
        salted_fact.join(replicated, on=[*keys, "_salt"], how=how).drop("_salt")
    )
