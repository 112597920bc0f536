"""Array<float> vector math as pure Catalyst expressions (no UDFs).

Used by the similarity-search operators (SURVEY §7 step 7). ``aggregate`` +
``zip_with`` run inside whole-stage codegen; element order is left-to-right,
so results are bit-deterministic — required for oracle hash-matching and for
reproducible top-k cuts at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
