"""The reference's two ingestion pipelines re-expressed as declarative plans.

These functions are pure DataFrame→DataFrame transformations, so the batch
backfill (reference E1/E2) and the streaming incremental path (E3,
:mod:`..streaming.ingest`) share them — design constraint from SURVEY §7
step 4. The reference runs these row-at-a-time over subprocess + HTTP
(``riot_graphs/rg.py:43-156``); here each is one Catalyst plan, and a
multi-day backfill is the *same plan* with a wider time predicate
(SURVEY §2.4 A3 — the day loop disappears).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import html_pr_anchor, pr_number, wrap_text
from ..operators.explode import explode_sizes
from ..operators.joins import enrich
from ..operators.timeseries import last_per_bucket
from ..functions.scalars import anchored_day


def build_sizes_from_raw(sizes_raw: DataFrame) -> DataFrame:
    """E1 core: nightly documents → ``build_sizes`` fact rows
    (reference ``rg.py:269-315``): P1 explode, P2 ``dec``, P3 casts,
    P4 count default. Rows are not deduped here: O2 idempotency (one row
    per InfluxDB point key) is the sink append's job,
    :func:`..sources.sinks.merge_append`.
    """
    return explode_sizes(sizes_raw).select(
        "ts", "test", "board", "bss", "data", "text", "dec"
    )


def pr_events_from_commits(
    commits: DataFrame, prs: DataFrame, repo: str = "RIOT-OS/RIOT"
) -> DataFrame:
    """E1/E3 enrichment: merge commits → ``pr_events`` annotation rows
    (reference ``rg.py:318-348``): P5 PR-number regex (total — rows without
    a digit are dropped instead of raising), J2 broadcast PR enrichment
    (left join keeps commits whose PR lookup missed, ``rg.py:361-362``),
    P12 HTML anchors, P13 wrapped description.

    Field fidelity (reference ``rg.py:336-343``): ``title`` is the HTML
    anchor and ``event`` is ``"Merged " + anchor`` — both byte-match the
    reference's Grafana annotation payload.
    """
    with_pr = commits.withColumn("pr_num", pr_number(F.col("msg"))).filter(
        F.col("pr_num").isNotNull()
    )
    enriched = enrich(with_pr, prs, on="pr_num", how="left")
    anchor = html_pr_anchor(F.col("pr_num"), repo)
    return enriched.select(
        F.col("date").alias("ts"),
        "pr_num",
        "hash",
        anchor.alias("title"),
        F.concat(F.lit("Merged "), anchor).alias("event"),
        wrap_text(F.coalesce(F.col("title"), F.lit(""))).alias("description"),
    )


def nightly_builds(
    commits: DataFrame, sizes_raw: DataFrame, anchor_hours: int = 3
) -> DataFrame:
    """A1+J1 — pair each 03:00-anchored day's *last* commit that has CI stats
    with its build rows (reference ``fetch_stats_from``, ``rg.py:52-84``).
    Inner join commits⋈stats on sha first (only commits with stats are
    candidates — the reference's first-hit loop), then one partial-aggregable
    ``max_by`` per anchored day.
    """
    flat = explode_sizes(sizes_raw)
    candidates = commits.join(flat, commits["hash"] == flat["sha"], "inner")
    day = anchored_day(F.col("date"), anchor_hours)
    return last_per_bucket(
        candidates.withColumn("_day", day),
        ts="date",
        dims=["test", "board"],
        payload=["hash", "date", "bss", "data", "text", "dec"],
        bucket=F.col("_day"),
        tiebreak="hash",
    )
