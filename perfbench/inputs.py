"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:

- ``write_tables`` writes the ten driver tables (``region`` ... ``embeddings``)
  as parquet, TPC-H-shaped plus the ``events`` stream table, at a given
  scale factor;
- ``NightlyPlan`` builds the RIOT-shaped nightly ``sizes.json`` documents of
  the ingest workload (a backfilled history, then the nights landed while
  timing, a seeded share of them re-deliveries of earlier nights);
- ``PanelSchedule`` fixes the panel statements of each dashboard refresh.

The same seed always gives byte-identical files and statements.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = dt.datetime(2024, 1, 1)
_US_PER_DAY = 86_400_000_000

# Row counts at scale factor 1; small dimension tables are fixed.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "users": 15_000,
}
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "red blue hot cold old new small large".split()
_NOUN = "widget plate ring rod bolt gear pipe valve".split()


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    day = rng.integers(0, span_days, n).astype("int64")
    us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + day * _US_PER_DAY, pa.timestamp("us"))


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten driver tables at scale factor ``sf`` (schemas as the
    program's ``sources.tables`` reads them)."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * sf)) for k, v in _BASE_ROWS.items()}
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": _choice(rng, names, n["part"]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": _choice(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2400, n["orders"]),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"]),
    })
    lines_per_order = rng.integers(1, 8, n["orders"])
    n_li = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n["orders"], dtype="int64"), lines_per_order)
    first = np.cumsum(lines_per_order) - lines_per_order
    linenumber = np.arange(n_li) - np.repeat(first, lines_per_order) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n["part"], n_li),
        "l_suppkey": rng.integers(0, n["supplier"], n_li),
        "l_linenumber": linenumber.astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2500, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n["events"]))
    ts = np.unique(ts)  # (tag, ts) dedupe in panels needs a total order
    n_ev = len(ts)
    start_us = int((EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(start_us + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], n_ev),
        "event_type": _choice(
            rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a near-copy of an earlier one
    (a single word changed), so the dedup operators have clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(_choice(rng, _WORDS, 1)[0])
        else:
            words = list(_choice(rng, _WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], n,
                        p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# Ingest: RIOT-shaped nightly documents
# ---------------------------------------------------------------------------

N_TESTS = 200
N_BOARDS = 100
# Backfilled nights. With the fresh nights a run lands on top (about 14, or
# 24 for a program twice as fast), the sink stays under Spark's
# 32-directory threshold for distributed partition listing, which would
# otherwise add a step to /update cost mid-run.
HISTORY_NIGHTS = 8
REDELIVERY_SHARE = 0.25


class NightlyPlan:
    """The nightly documents of one ingest run.

    Nights ``0 .. HISTORY_NIGHTS-1`` are backfilled during set-up;
    ``landing(i)`` is the i-th document landed while timing. Each test
    builds on a seeded ~30% of the boards, and each (test, board) size
    drifts by its own seeded slope per night plus noise, as firmware does.
    A fixed ``REDELIVERY_SHARE`` of landings repeat an earlier night's
    document byte for byte (same ``ts`` and ``sha``), which the sink's
    upsert key must absorb as zero new rows.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 2])
        self.tests = [f"tests_{i:03d}" for i in range(N_TESTS)]
        self.boards = [f"board-{i:03d}" for i in range(N_BOARDS)]
        self.present = rng.random((N_TESTS, N_BOARDS)) < 0.3
        self.base = rng.integers(2_000, 60_000, (N_TESTS, N_BOARDS, 3))
        self.slope = rng.integers(-8, 24, (N_TESTS, N_BOARDS, 3))
        self._landings: list[tuple[int, bool]] = []
        self._next_fresh = HISTORY_NIGHTS

    def night(self, k: int) -> dict:
        """Night ``k`` (0-based) as a ``sizes.json`` document."""
        noise = np.random.default_rng([self.seed, 3, k]).integers(0, 33, self.base.shape)
        size = self.base + k * self.slope + noise
        sizes: dict[str, dict] = {}
        t_idx, b_idx = np.nonzero(self.present)
        for t, b in zip(t_idx.tolist(), b_idx.tolist()):
            bss, text, data = size[t, b].tolist()
            cell = {"bss": bss, "text": text, "data": data}
            if (t + b + k) % 7 == 0:
                cell["count"] = 1
            sizes.setdefault(self.tests[t], {})[self.boards[b]] = cell
        ts = EPOCH_2024 + dt.timedelta(days=k, hours=3)
        return {
            "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "sha": f"{(self.seed * 1_000_003 + k) & 0xFFFFFFFF:08x}",
            "sizes": sizes,
        }

    def landing(self, i: int) -> tuple[int, bool]:
        """(night index, is_redelivery) of the i-th timed landing. Every
        ``1 / REDELIVERY_SHARE``-th landing is a re-delivery, so each run
        carries the same mix; which earlier night comes back is seeded."""
        while len(self._landings) <= i:
            j = len(self._landings)
            if (j + 1) % round(1 / REDELIVERY_SHARE) == 0:
                rng = np.random.default_rng([self.seed, 4, j])
                self._landings.append((int(rng.integers(0, self._next_fresh)), True))
            else:
                self._landings.append((self._next_fresh, False))
                self._next_fresh += 1
        return self._landings[i]

    @staticmethod
    def keys(doc: dict) -> set[tuple[str, str, str]]:
        """Upsert keys (test, board, ts) a night's document carries."""
        return {(t, b, doc["ts"]) for t, boards in doc["sizes"].items() for b in boards}


def write_night(doc: dict, landing_dir: str, name: str) -> str:
    """Land one document atomically (write then rename, so the streaming
    file source never lists a half-written file)."""
    path = os.path.join(landing_dir, f"{name}.json")
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Dashboard: panel schedule
# ---------------------------------------------------------------------------

#: Registered ``influxql_*`` panel texts that read the plain ``events`` view,
#: keyed by their registry name (their oracle twin in ``oracle_sql()``).
FIXED_PANELS = {
    "influxql_hourly_mean": (
        "SELECT mean(value) AS mean_value, count(value) AS n, "
        "max(value) AS max_value FROM events "
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-09 00:00:00' "
        "GROUP BY time(1h), event_type"),
    "influxql_daily_derivative": (
        "SELECT derivative(sum(value), 1d) AS deriv FROM events "
        "GROUP BY time(1d), event_type"),
    "influxql_count_distinct": (
        "SELECT count(distinct(user_id)) AS n FROM events GROUP BY time(1d)"),
    "influxql_mode": "SELECT mode(value) FROM events GROUP BY time(1d), event_type",
    "influxql_subquery": (
        "SELECT mean(mx) AS m FROM "
        "(SELECT max(value) AS mx FROM events GROUP BY time(1h), event_type) "
        "GROUP BY time(1d), event_type"),
    "influxql_median": "SELECT median(value) FROM events GROUP BY time(1d), event_type",
    "influxql_percentile_daily": (
        "SELECT percentile(value, 95) AS p95 FROM events"
        " GROUP BY time(1d), event_type"),
    "influxql_first_last": (
        "SELECT first(value), last(value) FROM events"
        " GROUP BY time(1d), event_type"),
}

_SLIDING = (
    "SELECT mean(value) AS mean_value, max(value) AS max_value FROM events "
    "WHERE time >= '{lo}' AND time < '{hi}' GROUP BY time(1h), event_type",
    "SELECT count(value) AS n FROM events "
    "WHERE time >= '{lo}' AND time < '{hi}' GROUP BY time(10m)",
)


class PanelSchedule:
    """Panels of each dashboard refresh: the fixed set plus two panels whose
    quoted-literal time window slides by a seeded step (1-6 h) per refresh,
    wrapping inside the 30 days of events. Only the sliding panels' text
    changes between refreshes, so repeated-statement share is a property of
    the schedule, not of timing."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 5])
        self.step_h = int(rng.integers(1, 7))
        self.offset_h = int(rng.integers(0, 24 * 20))

    def refresh(self, r: int) -> list[tuple[str, str]]:
        """(panel name, statement) pairs of refresh ``r``."""
        panels = list(FIXED_PANELS.items())
        start_h = (self.offset_h + r * self.step_h) % (24 * 22)
        lo = EPOCH_2024 + dt.timedelta(hours=start_h)
        for i, text in enumerate(_SLIDING):
            hi = lo + dt.timedelta(days=2 + 5 * i)
            panels.append((f"sliding_{i}", text.format(
                lo=lo.strftime("%Y-%m-%d %H:%M:%S"), hi=hi.strftime("%Y-%m-%d %H:%M:%S"))))
        return panels
