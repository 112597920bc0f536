"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,ingest,batch} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, sets the program up ``SETUPS`` times (``setup_s`` is the median),
measures a closed loop for ``--seconds``, checks the outputs and prints one
JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics. The measured time is split in two
  halves, untraced then traced (spans, job groups and Spark's event log
  on, in a freshly set-up session); ``trace.overhead_ms`` is the traced
  half's ``op_p50_ms`` minus the untraced half's.

All scratch files live under ``.perfbench_work/`` and are removed at exit;
spans and the reduced event log of a traced run are kept under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
T_START = time.perf_counter()


def log(what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - T_START:.1f}s", file=sys.stderr)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def layer_metrics(w, tracer, session, records, stats, setup_times, overhead_ms) -> dict:
    """Per-layer metrics of the traced half (see BENCHMARK.json)."""
    from harness import median

    t0 = min(r["start"] for r in records)
    in_run = [s for s in tracer.spans if s.start >= t0]
    translate = [s for s in in_run if s.name == "influxql.translate"]
    seen: set[str] = set()
    repeats = 0
    for s in translate:
        repeats += s.attrs["stmt"] in seen
        seen.add(s.attrs["stmt"])

    # server self time: a request's span minus what its children cover — the
    # runner (InfluxQL parse + translate), the refresh, the view re-point and
    # the SQL executions attributed to the request's operation
    inner = [s for s in in_run if s.name in ("server.query", "ingest.refresh", "sources.register")]
    self_ms = []
    for req in (s for s in in_run if s.name == "client.request"):
        kids = [(s.start, s.end) for s in inner
                if req.start <= s.start <= req.end
                and s.attrs.get("stmt", req.attrs.get("stmt")) == req.attrs.get("stmt")]
        kids += stats[req.op].sql_intervals if req.op in stats else []
        self_ms.append(1e3 * (req.end - req.start - _covered(req.start, req.end, kids)))
    resp_bytes = [r["bytes"] for r in records if "bytes" in r]

    def mean(f) -> float:
        return sum(f(s) for s in stats.values()) / len(stats) if stats else 0.0

    out = {
        "session.start_s": median(setup_times["session"]),
        "session.peak_rss_mb": session.peak_rss_mb(),
        "sources.register_s": median([s.ms / 1e3 for s in tracer.named("sources.register")]),
        "influxql.translate_ms": median([s.ms for s in translate]),
        "influxql.statements": float(len(translate)),
        "influxql.repeat_share": repeats / len(translate) if translate else 0.0,
        "server.self_ms": median(self_ms),
        "server.response_bytes": median(resp_bytes),
        "spark.jobs": mean(lambda s: s.jobs),
        "spark.stages": mean(lambda s: s.stages),
        "spark.sql_exec_ms": mean(lambda s: s.sql_exec_ms),
        "spark.task_run_ms": mean(lambda s: s.task_run_ms),
        "spark.shuffle_bytes": mean(lambda s: s.shuffle_bytes),
        "spark.spill_bytes": mean(lambda s: s.spill_bytes),
        "ingest.refresh_ms": 0.0, "ingest.micro_batches": 0.0, "ingest.new_ratio": 0.0,
        "sink.files": 0.0, "sink.bytes_per_row": 0.0,
        "plans.build_s": 0.0, "plans.build_jobs": 0.0, "plans.exec_s": 0.0,
        "plans.iterative_s": 0.0, "plans.single_pass_s": 0.0,
        "trace.overhead_ms": overhead_ms,
    }
    out.update(w.layer_extra(records, stats))
    return out


def main() -> int:
    args = _parse()
    if not (os.path.isfile(os.path.join(ROOT, "server.py"))
            and os.path.isdir(os.path.join(ROOT, "riot_graphs_spark"))):
        print("perfbench: program sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness
    import spans
    from workloads import WORKLOADS

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out", tag)
    os.makedirs(work)
    tracer = spans.Tracer(enabled=False)
    w = WORKLOADS[args.workload](args.seed, work, tracer)
    session = harness.Session(work, min(w.CPUS, os.cpu_count() or 1))
    try:
        w.generate()
        log("inputs generated")
        setup_times = {"setup": [], "session": []}

        def set_up(event_log_dir=None):
            t0 = time.perf_counter()
            setup_times["session"].append(session.start(event_log_dir))
            w.setup(session.spark)
            setup_times["setup"].append(time.perf_counter() - t0)
            log(f"set up in {setup_times['setup'][-1]:.2f}s")

        for i in range(SETUPS):
            if i:
                w.teardown()
                session.stop()
            set_up()
        session.collect_garbage()
        w.warm()

        seconds = args.seconds / 2 if args.trace else args.seconds
        records = w.measure(seconds)
        if args.trace:
            untraced = w.e2e(records)
            w.teardown()
            session.stop()
            log_dir = os.path.join(work, "eventlog")
            tracer.enabled = True
            undo = spans.patch_influxql(tracer)
            try:
                set_up(log_dir)
                session.collect_garbage()
                w.warm()
                records = w.measure(seconds)
            finally:
                undo()
        log(f"measured {len(records)} operations (ms: "
            f"{' '.join(str(round(1e3 * (r['end'] - r['start']))) for r in records)})")
        attempted, failures = w.check(records)
        log("outputs checked")
        session.sample_rss()
        w.teardown()
        session.stop()

        e2e = w.e2e(records)
        if args.trace:
            windows = w.op_windows(records)
            stats = spans.reduce_event_log(spans.read_event_log(log_dir), windows)
            metrics = layer_metrics(w, tracer, session, records, stats, setup_times,
                                    e2e["op_p50_ms"] - untraced["op_p50_ms"])
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, "spans.json"))
            with open(os.path.join(out_dir, "ops.json"), "w") as fh:
                json.dump({op: {k: v for k, v in st.__dict__.items()}
                           for op, st in stats.items()}, fh, default=str)
        else:
            metrics = {"setup_s": harness.median(setup_times["setup"]), **e2e}
        units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        unit_of = {m["name"]: m["unit"] for m in units["end_to_end"] + units["per_layer"]}
        for f in failures[:20]:
            print(f"check failed: {f}", file=sys.stderr)
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        w.teardown()
        session.stop()
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
