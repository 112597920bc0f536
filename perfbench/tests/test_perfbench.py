"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import inputs
import run
import spans
from workloads import WORKLOADS

BENCHMARK = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_inputs_are_deterministic_per_seed():
    a, b, c = (inputs.make_tables(0.001, s) for s in (7, 7, 8))
    assert set(a) == set(inputs.TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])

    p, q = inputs.NightlyPlan(7), inputs.NightlyPlan(7)
    assert [p.landing(i) for i in range(30)] == [q.landing(i) for i in range(30)]
    assert p.night(33) == q.night(33)
    assert p.night(3) != inputs.NightlyPlan(8).night(3)
    assert inputs.PanelSchedule(7).refresh(5) == inputs.PanelSchedule(7).refresh(5)


def test_redeliveries_repeat_earlier_nights_only():
    plan = inputs.NightlyPlan(3)
    fresh = inputs.HISTORY_NIGHTS
    for i in range(200):
        k, redelivery = plan.landing(i)
        if redelivery:
            assert k < fresh
        else:
            assert k == fresh
            fresh += 1
    assert 0 < sum(plan.landing(i)[1] for i in range(200)) < 200


def _records(name: str) -> list[dict]:
    if name == "dashboard":
        return [{"refresh": r, "panel": p, "stmt": p, "start": r + i / 10,
                 "end": r + i / 10 + 0.05, "error": None, "bytes": 100, "body": b""}
                for r in range(2) for i, p in enumerate("ab")]
    if name == "ingest":
        return [{"index": i, "night": 20 + i, "redelivery": False, "start": i,
                 "update_end": i + 0.5, "end": i + 0.8,
                 "landed": 20, "rows": 10, "error": None, "bytes": 100} for i in range(3)]
    return [{"pass": p, "name": n, "start": p + i / 10, "built": p + i / 10 + 0.02,
             "end": p + i / 10 + 0.05, "iterative": i == 0, "error": None}
            for p in range(2) for i, n in enumerate(("x", "y"))]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_emitted_metric_names_are_declared(workload, tmp_path):
    w = WORKLOADS[workload](1, str(tmp_path), spans.Tracer(enabled=False))
    w.sink = str(tmp_path)
    records = _records(workload)
    e2e = {"setup_s": 1.0, **w.e2e(records)}
    stats = {o.op: spans.OpStats() for o in w.op_windows(records)}

    class _Session:
        def peak_rss_mb(self):
            return 1.0

    layers = run.layer_metrics(w, w.tracer, _Session(), records, stats,
                               {"session": [1.0]}, 0.0)
    assert sorted(e2e) == sorted(m["name"] for m in BENCHMARK["end_to_end"])
    assert sorted(layers) == sorted(m["name"] for m in BENCHMARK["per_layer"])
    assert all(NAME.fullmatch(n) for n in [*e2e, *layers])
    assert all(v > 0 for v in e2e.values())


def test_event_log_reducer_counts_match_spark_status(tmp_path):
    """On a tiny sf0.001 run, jobs and stages the reducer attributes to each
    job group equal what Spark's own status tracker reports."""
    import time

    import harness

    tables = inputs.write_tables(str(tmp_path / "tables"), 0.001, 5)
    session = harness.Session(str(tmp_path), cpus=2)
    log_dir = str(tmp_path / "eventlog")
    session.start(log_dir)
    spark, sc = session.spark, session.spark.sparkContext
    expected, windows = {}, []
    try:
        lineitem = spark.read.parquet(f"{tables}/lineitem.parquet")
        orders = spark.read.parquet(f"{tables}/orders.parquet")
        work = {
            "scan": lambda: spark.read.parquet(f"{tables}/region.parquet").collect(),
            "agg": lambda: spark.read.parquet(f"{tables}/events.parquet")
            .groupBy("event_type").count().collect(),
            "join": lambda: lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus").count().collect(),
        }
        for group, fn in work.items():
            sc.setJobGroup(group, group)
            t0 = time.time()
            fn()
            windows.append(spans.OpWindow(group, t0, time.time(), (group,)))
            ids = sc.statusTracker().getJobIdsForGroup(group)
            expected[group] = (
                len(ids), sum(len(sc.statusTracker().getJobInfo(j).stageIds) for j in ids))
    finally:
        session.stop()
        session.shutdown()
    stats = spans.reduce_event_log(spans.read_event_log(log_dir), windows)
    for group, (jobs, stages) in expected.items():
        assert (stats[group].jobs, stats[group].stages) == (jobs, stages), group
        assert stats[group].task_run_ms >= 0 and stats[group].sql_exec_ms > 0
    assert expected["agg"][1] > expected["scan"][1]
