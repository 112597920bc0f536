"""Exact decimal-equivalent sums over long aggregation buffers.

The repo's cross-engine determinism convention quantizes per-row terms
(``round(x, s)``) and sums them in a wide decimal
(``sum(round(x, s).cast("decimal(28,s)"))``) so the aggregate is
independent of FP addition order and bit-identical to the DuckDB oracle.
Correct — but Spark's hash aggregate stores decimals of precision > 18 as
byte-array BigDecimals in the UnsafeRow buffer, so every row update pays a
deserialize → add → serialize round trip.  Measured at sf0.1: ~0.85 s per
decimal(28,9) sum over 600 k rows, vs ~0.06 s for a long sum — the decimal
buffer, not the rounding, is the cost (guide §1.2 "per-task work").

This module computes the *same exact value* over plain LONG buffers:

1. Per row, recover the scale-s unscaled integer of the quantized term:
   ``u = round(round(x, s) · 10^s, 0) :: long``.
   ``round(x, s)`` is the nearest double to the exact s-dp decimal v, so
   ``|rd − v| ≤ ulp(v)/2`` and ``rd·10^s`` sits within
   ``ulp(v)·10^s/2 + ulp(v·10^s)/2`` of the integer ``v·10^s`` — for
   ``|v| ≤ 10^6`` at s = 9 (or ``|v| ≤ 10^9`` at s = 6) that error is
   < 0.13, far from the 0.5 rounding boundary, so the recovered integer
   is exact.  (The *single*-round form ``round(x·10^s, 0)`` is NOT safe:
   x·10^s is an inexact product of a raw double, and its error can flip
   ties — always round at scale s first.)
2. Split ``u`` into ``hi = (u − u % 10^6) / 10^6`` and ``lo = u % 10^6``
   (exact identity ``u = hi·10^6 + lo`` for Spark's sign-of-dividend
   ``%``), and sum the two parts as longs.  The split buys overflow
   headroom: with per-term ``|v| ≤ 10^6`` at s = 9, ``|hi| ≤ 10^9`` and
   ``Σhi`` stays inside int64 up to ~9·10^9 rows *per group*; ``Σlo``
   up to ~9·10^12 rows.  (A single un-split long sum would cap at
   ~9·10^3 fewer rows.)
3. Recombine once per group in decimal and divide by 10^s exactly:
   ``(hi·10^6 + lo) :: decimal(28,0) × 1e-s :: decimal(s,s)`` →
   decimal(38,s), the same exact rational as the decimal-buffer sum,
   then cast to double — bit-identical output (verified exact vs the
   decimal form on every ported query at sf0.001/0.01/0.1).

Keep the decimal form when per-term magnitude can exceed the documented
bound, or when the sum is consumed AS a decimal (not cast to double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_M = 1_000_000  # split base: 10^6


def _unscaled(expr: Column, scale: int) -> Column:
    """Exact scale-``scale`` unscaled integer of ``round(expr, scale)``.

    Safe while ``|round(expr, scale)| · 10^scale`` stays ≲ 4·10^15
    (double-rounding error ≪ 0.5; see module docstring) — i.e.
    ``|term| ≤ 10^6`` at scale 9, ``|term| ≤ 10^9`` at scale 6.
    """
    return F.round(F.round(expr, scale) * F.lit(float(10**scale)), 0).cast(
        "long"
    )


def parts(expr: Column, tag: str, scale: int = 9) -> list[Column]:
    """Aggregate columns (2 long sums) for one exact quantized sum.

    Pass the returned list into ``.agg(...)`` (splat), then read the
    total back with :func:`value` under the same ``tag``/``scale``.
    """
    u = _unscaled(expr, scale)
    hi = ((u - u % _M) / F.lit(_M)).cast("long")
    lo = (u % _M).cast("long")
    return [
        F.sum(hi).alias(f"_fs_{tag}_hi"),
        F.sum(lo).alias(f"_fs_{tag}_lo"),
    ]


def value_dec(tag: str, scale: int = 9) -> Column:
    """Reconstruct the exact sum from :func:`parts` as a decimal of scale
    ``scale`` — for call sites that consume the decimal itself (sort
    keys, further decimal arithmetic).  Result type decimal(38,scale),
    the type ``sum(cast(decimal(28,scale)))`` would have produced.

    decimal(22,0)·10^6 + decimal(22,0) fits decimal(28,0); the final
    ×10^-scale multiply must stay ≤ precision 38 or allowPrecisionLoss
    silently drops output scale (the (38,0)×(9,9) → (38,6) trap) —
    hence the explicit narrow cast before the multiply.
    """
    p = 38 - scale - 1  # total×(scale,scale) must stay ≤ precision 38
    total = (
        F.col(f"_fs_{tag}_hi").cast("decimal(22,0)")
        * F.lit(_M).cast("decimal(7,0)")
        + F.col(f"_fs_{tag}_lo").cast("decimal(22,0)")
    ).cast(f"decimal({p},0)")
    return total * F.expr(f"CAST(1e-{scale} AS DECIMAL({scale},{scale}))")


def value(tag: str, scale: int = 9) -> Column:
    """Reconstruct the exact sum (as double) from :func:`parts` columns."""
    return value_dec(tag, scale).cast("double")


def parts_int(expr: Column, tag: str) -> list[Column]:
    """Aggregate columns (2 long sums) for an exact INTEGER-term sum —
    the long-buffer replacement for ``sum(int_expr.cast("decimal(38,0)"))``
    (scaled-integer moment sums).  Per-term ``|expr| ≤ ~10^12`` keeps
    ``Σhi`` inside int64 up to ~9·10^12 rows per group."""
    u = expr.cast("long")
    hi = ((u - u % _M) / F.lit(_M)).cast("long")
    lo = (u % _M).cast("long")
    return [
        F.sum(hi).alias(f"_fs_{tag}_hi"),
        F.sum(lo).alias(f"_fs_{tag}_lo"),
    ]


def value_int(tag: str, out: str = "decimal(38,0)") -> Column:
    """Reconstruct the exact integer total from :func:`parts_int` as the
    decimal type the downstream arithmetic expects (default (38,0), the
    type ``sum(x.cast("decimal(38,0)"))`` would have produced — keeping
    every downstream decimal op's type, and therefore value, identical)."""
    return (
        F.col(f"_fs_{tag}_hi").cast("decimal(22,0)")
        * F.lit(_M).cast("decimal(7,0)")
        + F.col(f"_fs_{tag}_lo").cast("decimal(22,0)")
    ).cast(out)


def parts3_int(expr: Column, tag: str) -> list[Column]:
    """Three-way integer split (3 long sums): per-term ``|expr|`` up to
    ~9·10^18 with ~10^12-row-per-group headroom — for degree-product
    moments where a hub can push single terms past :func:`parts_int`'s
    10^12 comfort zone."""
    u = expr.cast("long")
    r1 = u % _M
    # Integer division (IntegralDivide), NOT `/`: Spark promotes long/int
    # division to double, and past 2^53 the dividend `u - r1` is not
    # exactly representable — the truncating cast could come back off by
    # one anywhere in the advertised ~9·10^18 per-term range.  (parts /
    # parts_int keep the double form: their dividends are
    # bounded ≤ 4·10^15 by _unscaled / the 10^12 contract, inside 2^53
    # where correctly-rounded division of an exact dividend is exact.)
    q1 = F.call_function("div", u - r1, F.lit(_M))
    r2 = q1 % _M
    # |q1| ≤ ~9·10^12 < 2^53, so this second stage is back inside the
    # exact-double range — but keep it integral for uniformity.
    q2 = F.call_function("div", q1 - r2, F.lit(_M))
    return [
        F.sum(q2).alias(f"_fs_{tag}_h2"),
        F.sum(r2).alias(f"_fs_{tag}_h1"),
        F.sum(r1).alias(f"_fs_{tag}_lo"),
    ]


def value3_int(tag: str, out: str = "decimal(38,0)") -> Column:
    """Reconstruct the exact integer total from :func:`parts3_int`."""
    return (
        (
            F.col(f"_fs_{tag}_h2").cast("decimal(22,0)")
            * F.lit(_M).cast("decimal(7,0)")
            + F.col(f"_fs_{tag}_h1").cast("decimal(22,0)")
        ).cast("decimal(30,0)")
        * F.lit(_M).cast("decimal(7,0)")
        + F.col(f"_fs_{tag}_lo").cast("decimal(30,0)")
    ).cast(out)
