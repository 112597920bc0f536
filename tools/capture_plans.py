#!/usr/bin/env python
"""Capture .explain("formatted") output for named queries into
plans/r<round>/<query>_<suffix>.txt — the before/after evidence files of
an optimization round.

Usage: python tools/capture_plans.py <round> <before|after> name1 name2 ...
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from riot_graphs_spark.plans.driver_queries import QUERIES  # noqa: E402
from riot_graphs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    rnd, suffix = sys.argv[1:3]
    names = sys.argv[3:]
    outdir = os.path.join(REPO, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="riot-graphs-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan.rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
