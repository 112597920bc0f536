"""The three workloads. Each generates its inputs from the seed, sets the
program up, runs a closed loop for the measured seconds, and checks the
program's outputs. ``records`` hold one entry per timed operation; the
traced run adds spans and Spark event-log statistics on top.

- ``dashboard``: Grafana auto-refresh against ``server.serve`` /query.
  One refresh fires the panel set with at most ``CLIENTS`` requests in
  flight; the next refresh starts when the last panel returns.
- ``ingest``: the nightly loop, one client: land a ``sizes.json``, GET
  /update, then GET the size-regression panel over the re-pointed sink.
- ``batch``: a fixed subset of ``queries()`` entries, each forced with a
  noop write, one pass after another.
"""

from __future__ import annotations

import datetime as dt
import glob
import itertools
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import checks
import inputs
from harness import http_get, median
from spans import OpWindow, Tracer

CLIENTS = 4


def _set_group(spark, tracer: Tracer, group: str) -> None:
    if tracer.enabled:
        spark.sparkContext.setJobGroup(group, group)


class _Served:
    """Owns one in-process ``server.serve`` instance and its wrappers."""

    def __init__(self, spark, tracer: Tracer, refresh):
        from server import make_query_runner, serve

        runner = make_query_runner(spark)
        ids = itertools.count()

        def traced_runner(q: str):
            # runs in the request's handler thread, as the collect after it
            group = f"pbq-{next(ids)}"
            _set_group(spark, tracer, group)
            with tracer.span("server.query", stmt=q, group=group):
                return runner(q)

        self.httpd = serve(refresh, port=0, query_runner=traced_runner)
        self.port = self.httpd.server_address[1]

    def query(self, q: str) -> tuple[int, bytes]:
        return http_get(self.port, "/query", {"q": q, "epoch": "ms"})

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


def _errors(status: int, body: bytes) -> str | None:
    if status != 200:
        return f"status {status}"
    for r in json.loads(body)["results"]:
        if "error" in r:
            return r["error"]
    return None


def _member_medians_ms(records: list[dict], key: str) -> list[float]:
    """Median time of each member of a cycle (a panel, a query). The median
    of the pooled times would jump between members of different sizes, so
    the typical operation is the mean of these per-member medians."""
    times: dict[str, list[float]] = {}
    for r in records:
        times.setdefault(r[key], []).append(1e3 * (r["end"] - r["start"]))
    return [median(v) for v in times.values()]


class _Loop:
    """Closed loop of ``step()`` calls (a refresh, a nightly cycle, a pass).
    ``warm`` runs a fixed number of untimed steps after set-up, so every
    run starts timing at the same point of the JVM's warm-up curve."""

    def warm(self) -> None:
        for _ in range(self.WARMUP_STEPS):
            self.step()

    def measure(self, seconds: float) -> list[dict]:
        records: list[dict] = []
        t_end = time.time() + seconds
        while not records or time.time() < t_end:
            records.extend(self.step())
        return records


class Dashboard(_Loop):
    name = "dashboard"
    CPUS = 4
    SF = 0.1
    # The JVM keeps getting faster at planning these panels for tens of
    # refreshes; timing from later on that curve narrows run-to-run spread.
    WARMUP_STEPS = 4

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.tables = os.path.join(work, "tables")
        self.schedule = inputs.PanelSchedule(seed)
        self.served: _Served | None = None
        self.refreshes = 0

    def generate(self) -> None:
        inputs.write_tables(self.tables, self.SF, self.seed)

    def setup(self, spark) -> None:
        from riot_graphs_spark.sources.tables import register_tables

        self.spark = spark
        with self.tracer.span("sources.register"):
            register_tables(spark, self.tables)
        self.served = _Served(spark, self.tracer, refresh=lambda: 0)
        self._refresh(-1)

    def teardown(self) -> None:
        if self.served is not None:
            self.served.close()
            self.served = None

    def _panel(self, r: int, name: str, q: str) -> dict:
        with self.tracer.span("client.request", op=f"r{r}-{name}", stmt=q):
            t0 = time.time()
            status, body = self.served.query(q)
            t1 = time.time()
        return {"refresh": r, "panel": name, "stmt": q, "start": t0, "end": t1,
                "error": _errors(status, body), "bytes": len(body), "body": body}

    def _refresh(self, r: int) -> list[dict]:
        with ThreadPoolExecutor(CLIENTS) as pool:
            futures = [pool.submit(self._panel, r, n, q)
                       for n, q in self.schedule.refresh(max(r, 0))]
            return [f.result() for f in futures]

    def step(self) -> list[dict]:
        self.refreshes += 1
        return self._refresh(self.refreshes - 1)

    def check(self, records: list[dict]) -> tuple[int, list[str]]:
        """Every timed request answered 200 with no per-statement error; the
        last response of each fixed panel equals its oracle twin."""
        from riot_graphs_spark.plans.driver_queries import oracle_sql

        failures = [f"{r['panel']}: {r['error']}" for r in records if r["error"]]
        last = {r["panel"]: r for r in records if r["panel"] in inputs.FIXED_PANELS}
        con = checks.duck(self.tables)
        oracles = oracle_sql()
        for name, rec in sorted(last.items()):
            got = checks.response_frame(json.loads(rec["body"]))
            why = checks.mismatch(got, con.execute(oracles[name]).df())
            if why:
                failures.append(f"{name}: {why}")
        con.close()
        return len(records) + len(last), failures

    def e2e(self, records: list[dict]) -> dict:
        by_refresh: dict[int, list[dict]] = {}
        for r in records:
            by_refresh.setdefault(r["refresh"], []).append(r)
        cycles = [1e3 * (max(x["end"] for x in rs) - min(x["start"] for x in rs))
                  for rs in by_refresh.values()]
        span = max(r["end"] for r in records) - min(r["start"] for r in records)
        return {"op_p50_ms": float(np.mean(_member_medians_ms(records, "panel"))),
                "cycle_p50_ms": median(cycles), "work_per_s": len(records) / span}

    def op_windows(self, records: list[dict]) -> list[OpWindow]:
        queries = self.tracer.named("server.query")
        out = []
        for r in records:
            groups = tuple(
                s.attrs["group"] for s in queries
                if s.attrs["stmt"] == r["stmt"] and r["start"] <= s.start <= r["end"])
            out.append(OpWindow(f"r{r['refresh']}-{r['panel']}", r["start"], r["end"], groups))
        return out

    def layer_extra(self, records, stats) -> dict:
        return {}


class Ingest(_Loop):
    name = "ingest"
    # A cycle is a chain of small jobs on a few thousand rows: two task
    # threads finish it sooner than four, and leave cores to the JVM's
    # compiler and GC threads and the Python client instead of contending
    # with them.
    CPUS = 2
    WARMUP_STEPS = 6
    PANEL = ("SELECT derivative(last(dec), 1d) AS d FROM build_sizes "
             "WHERE test = '{test}' GROUP BY time(1d), board")

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.plan = inputs.NightlyPlan(seed)
        busiest = int(np.argmax(self.plan.present.sum(axis=1)))
        self.panel = self.PANEL.format(test=self.plan.tests[busiest])
        self.served: _Served | None = None
        self.landings = 0
        self.setups = 0
        self.history = os.path.join(work, "history")
        self.history_keys: set = set()
        self.keys: set = set()

    def generate(self) -> None:
        """Write the backfill history once; each set-up lands a copy. Timed
        nights are made on demand (each is a pure function of the seed and
        its index)."""
        os.makedirs(self.history)
        for k in range(inputs.HISTORY_NIGHTS):
            doc = self.plan.night(k)
            inputs.write_night(doc, self.history, f"h{k:03d}")
            self.history_keys |= self.plan.keys(doc)

    def setup(self, spark) -> None:
        """Fresh landing zone, sink and checkpoint; backfill the history
        with one /update, so timing starts with the sink already holding
        most of the partitions it ends with."""
        from riot_graphs_spark.streaming.ingest import incremental_refresh

        self.spark = spark
        self.setups += 1
        self.landings = 0
        root = os.path.join(self.work, f"ingest-{self.setups}")
        self.landing = os.path.join(root, "landing")
        self.tables = os.path.join(root, "tables")
        self.sink = os.path.join(self.tables, "build_sizes.parquet")
        ckpt = os.path.join(root, "checkpoint")
        shutil.copytree(self.history, self.landing)
        self.keys = set(self.history_keys)
        self.newest = inputs.HISTORY_NIGHTS - 1

        def refresh() -> int:
            with self.tracer.span("ingest.refresh"):
                n = incremental_refresh(spark, self.landing, self.sink, ckpt)
            self._repoint()
            return n

        self.served = _Served(spark, self.tracer, refresh=refresh)
        status, body = http_get(self.served.port, "/update")
        want = len(self.keys)
        got = json.loads(body).get("updates") if status == 200 else None
        if got != want:
            raise RuntimeError(f"backfill /update gave {got} new rows, expected {want}")
        self.served.query(self.panel)

    def _land(self, k: int, name: str) -> tuple[int, int]:
        """Land night ``k``; returns (keys landed, keys new to the sink)."""
        doc = self.plan.night(k)
        inputs.write_night(doc, self.landing, name)
        keys = self.plan.keys(doc)
        self.newest = max(self.newest, k)
        new = len(keys - self.keys)
        self.keys |= keys
        return len(keys), new

    def _repoint(self) -> None:
        from riot_graphs_spark.sources.tables import load_table

        with self.tracer.span("sources.register"):
            load_table(self.spark, self.tables, "build_sizes").createOrReplaceTempView(
                "build_sizes")

    def teardown(self) -> None:
        if self.served is not None:
            self.served.close()
            self.served = None

    def step(self) -> list[dict]:
        """One nightly cycle: land, /update, read the panel."""
        i = self.landings
        self.landings += 1
        k, redelivery = self.plan.landing(i)
        landed, expected = self._land(k, f"n{i:04d}-{k:03d}")
        t0 = time.time()  # the document has landed
        with self.tracer.span("client.request", op=f"n{i}"):
            status, body = http_get(self.served.port, "/update")
        t1 = time.time()
        with self.tracer.span("client.request", op=f"n{i}", stmt=self.panel):
            q_status, q_body = self.served.query(self.panel)
        t2 = time.time()
        got = json.loads(body).get("updates") if status == 200 else None
        error = None
        if got != expected:
            error = f"night {k}: /update gave {got} new rows, expected {expected}"
        elif _errors(q_status, q_body):
            error = _errors(q_status, q_body)
        elif not self._shows(q_body, self.newest):
            error = f"night {k}: panel does not show night {self.newest}"
        return [{"index": i, "night": k, "redelivery": redelivery, "start": t0,
                 "update_end": t1, "end": t2, "landed": landed,
                 "rows": got or 0, "error": error, "bytes": len(q_body)}]

    @staticmethod
    def _shows(body: bytes, k: int) -> bool:
        """The panel has a point in night ``k``'s day bucket (a re-delivery
        leaves the newest night on show)."""
        day = inputs.EPOCH_2024 + dt.timedelta(days=k) - dt.datetime(1970, 1, 1)
        day_ms = day // dt.timedelta(milliseconds=1)
        for series in json.loads(body)["results"][0].get("series", []):
            if any(v[0] == day_ms for v in series["values"]):
                return True
        return False

    def check(self, records: list[dict]) -> tuple[int, list[str]]:
        """Each /update's count was checked in the loop; here the sink's key
        set must equal every key landed, each stored once."""
        import duckdb

        failures = [r["error"] for r in records if r["error"]]
        con = duckdb.connect()
        stored = con.execute(
            "SELECT test, board, strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%dT%H:%M:%SZ') "
            f"FROM read_parquet('{self.sink}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        con.close()
        if len(stored) != len(set(stored)):
            failures.append(f"sink holds {len(stored) - len(set(stored))} duplicate keys")
        if set(stored) != self.keys:
            failures.append(
                f"sink keys differ: {len(set(stored) - self.keys)} extra, "
                f"{len(self.keys - set(stored))} missing")
        return len(records) + 1, failures

    def e2e(self, records: list[dict]) -> dict:
        upd = [1e3 * (r["update_end"] - r["start"]) for r in records]
        fresh = [r for r in records if not r["redelivery"]]
        # the median over fresh nights of new rows per second of /update;
        # a re-delivery writes none
        rates = [r["rows"] / (r["update_end"] - r["start"]) for r in fresh]
        return {"op_p50_ms": median(upd),
                "cycle_p50_ms": median([1e3 * (r["end"] - r["start"]) for r in fresh]),
                "work_per_s": median(rates)}

    def op_windows(self, records: list[dict]) -> list[OpWindow]:
        # streaming jobs carry the stream's own job group: attribute by time
        return [OpWindow(f"n{r['index']}", r["start"], r["end"]) for r in records]

    def layer_extra(self, records, stats) -> dict:
        files = glob.glob(os.path.join(self.sink, "*", "*.parquet"))
        size = sum(os.path.getsize(f) for f in files)
        return {
            "ingest.refresh_ms": median([s.ms for s in self.tracer.named("ingest.refresh")
                                         if s.start >= records[0]["start"]]),
            "ingest.micro_batches": float(np.mean([s.micro_batches for s in stats.values()])),
            "ingest.new_ratio": sum(r["rows"] for r in records) / max(
                1, sum(r["landed"] for r in records)),
            "sink.files": float(len(files)),
            "sink.bytes_per_row": size / max(1, len(self.keys)),
        }


class Batch(_Loop):
    """A step is one member; a pass is the members in order. Stepping by
    member lets the loop stop within one query of the measured time."""

    name = "batch"
    CPUS = 4
    SF = 0.01
    # Trimmed from a 16-member list so a 15 s run times two to three passes (~5 s
    # each on 4 cores): construction of an iterative operator is ~2 s of
    # driver round trips alone, whatever the scale factor. The single-pass
    # members cover an aggregate, a join, a window, the InfluxQL shim and
    # both Python-worker paths (an Arrow batch kernel, a pandas UDF).
    ITERATIVE = ("graph_pagerank_parts",)
    SINGLE_PASS = (
        "q1_pricing_summary", "j1_lineitem_orders", "flagship_daily_delta",
        "influxql_daily_derivative", "dedup_simhash", "p13_wrap",
    )
    WARMUP = "g1_hourly_agg"

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.tables = os.path.join(work, "tables")
        self.ops = 0
        self.failures: list[str] | None = None

    def generate(self) -> None:
        inputs.write_tables(self.tables, self.SF, self.seed)

    def setup(self, spark) -> None:
        import __spark_entry__
        from riot_graphs_spark.sources.tables import register_tables

        self.spark = spark
        self.queries = __spark_entry__.queries()
        with self.tracer.span("sources.register"):
            register_tables(spark, self.tables)
        self.queries[self.WARMUP](spark, self.tables).write.format("noop").mode(
            "overwrite").save()

    def teardown(self) -> None:
        pass

    def _run(self, p: int, name: str) -> dict:
        op = f"p{p}-{name}"
        _set_group(self.spark, self.tracer, f"{op}-build")
        t0 = time.time()
        with self.tracer.span("plans.build", op=op):
            df = self.queries[name](self.spark, self.tables)
        t1 = time.time()
        _set_group(self.spark, self.tracer, f"{op}-exec")
        with self.tracer.span("plans.exec", op=op):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        return {"pass": p, "name": name, "start": t0, "built": t1, "end": t2,
                "iterative": name in self.ITERATIVE, "error": None}

    def warm(self) -> None:
        """The first warm-up is the check pass; a later one (the traced
        half's) finishes the current pass and runs one more, untimed, so
        both halves start equally warm and at the start of a pass."""
        if self.failures is None:
            self.failures = self._check_pass()
        else:
            for _ in range(-self.ops % len(self.members) + len(self.members)):
                self.step()

    @property
    def members(self) -> tuple[str, ...]:
        return self.ITERATIVE + self.SINGLE_PASS

    def step(self) -> list[dict]:
        p, i = divmod(self.ops, len(self.members))
        self.ops += 1
        return [self._run(p, self.members[i])]

    def _check_pass(self) -> list[str]:
        """Once per run, untimed, before the first timed pass: every
        member's rows equal its oracle twin."""
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = checks.duck(self.tables)
        failures = []
        for name in self.members:
            got = self.queries[name](self.spark, self.tables).toPandas()
            why = checks.mismatch(got, con.execute(oracles[name]).df())
            if why:
                failures.append(f"{name}: {why}")
        con.close()
        return failures

    def check(self, records: list[dict]) -> tuple[int, list[str]]:
        return len(records) + len(self.members), self.failures

    def _pass_totals(self, records, pick=lambda r: True, part=("start", "end")) -> list[float]:
        """Per-pass sums over the passes the run completed (all passes if
        it completed none)."""
        totals: dict[int, float] = {}
        count: dict[int, int] = {}
        for r in records:
            count[r["pass"]] = count.get(r["pass"], 0) + 1
            if pick(r):
                totals[r["pass"]] = totals.get(r["pass"], 0.0) + r[part[1]] - r[part[0]]
        whole = [t for p, t in totals.items() if count[p] == len(self.members)]
        return whole or list(totals.values())

    def e2e(self, records: list[dict]) -> dict:
        """A typical pass is the sum of the members' medians; queries per
        second are those of that pass, so one slow spell in a run moves
        none of the three."""
        medians = _member_medians_ms(records, "name")
        return {"op_p50_ms": float(np.mean(medians)), "cycle_p50_ms": sum(medians),
                "work_per_s": 1e3 * len(medians) / sum(medians)}

    def op_windows(self, records: list[dict]) -> list[OpWindow]:
        return [OpWindow(f"p{r['pass']}-{r['name']}", r["start"], r["end"],
                         (f"p{r['pass']}-{r['name']}-build", f"p{r['pass']}-{r['name']}-exec"))
                for r in records]

    def layer_extra(self, records, stats) -> dict:
        build_jobs: dict[int, int] = {}
        for r in records:
            st = stats[f"p{r['pass']}-{r['name']}"]
            build_jobs[r["pass"]] = build_jobs.get(r["pass"], 0) + st.jobs_by_group.get(
                f"p{r['pass']}-{r['name']}-build", 0)
        return {
            "plans.build_s": median(self._pass_totals(records, part=("start", "built"))),
            "plans.build_jobs": float(np.mean(list(build_jobs.values()))),
            "plans.exec_s": median(self._pass_totals(records, part=("built", "end"))),
            "plans.iterative_s": median(self._pass_totals(records, lambda r: r["iterative"])),
            "plans.single_pass_s": median(
                self._pass_totals(records, lambda r: not r["iterative"])),
        }


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, Batch)}
