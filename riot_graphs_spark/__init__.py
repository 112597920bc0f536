"""riot_graphs_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of bergzand/RIOT-graphs.

Layout (see SURVEY.md for the operator inventory these modules implement):

- :mod:`riot_graphs_spark.session`    — SparkSession factory with scale-ready defaults.
- :mod:`riot_graphs_spark.schemas`    — explicit StructTypes for the RIOT-domain tables.
- :mod:`riot_graphs_spark.sources`    — batch/streaming readers for the parquet tables,
  JSON landing zones, and git-log text parsing (SURVEY §2.1).
- :mod:`riot_graphs_spark.functions`  — scalar/array function library (SURVEY §2.2).
- :mod:`riot_graphs_spark.operators`  — relational operator library: time-series aggs,
  windows, as-of joins, gap fill, dedup, similarity search (SURVEY §2.2-§2.4, §7).
- :mod:`riot_graphs_spark.plans`      — composed end-to-end query plans (flagship query,
  RIOT ingestion pipeline re-expressed as one declarative plan).
- :mod:`riot_graphs_spark.streaming`  — Structured Streaming incremental ingestion
  (SURVEY §2.6): availableNow triggers, checkpointed offsets, idempotent merge.
"""

__version__ = "0.1.0"

import sys as _sys


def _register_pickle_by_value() -> None:
    """Ship UDF closures by value, not by module reference.

    Pandas-UDF kernels defined in this package (multimodal decode, text
    wrap) are serialized with cloudpickle. By default cloudpickle
    pickles functions from an importable module *by reference*, which breaks on
    executors whose Python workers don't have this repo on ``sys.path`` (an
    external driver that ``sys.path.insert``s the repo only in its own process,
    or a cluster without ``--py-files``). Registering the package for by-value
    pickling makes every shipped closure self-contained, so no deploy-time
    path configuration is required on the workers.
    """
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(_sys.modules[__name__])
    except Exception:
        # Older cloudpickle without the API — fall back to requiring the
        # package on the executor path (the pre-existing behavior).
        pass


_register_pickle_by_value()
