"""InfluxQL compatibility shim: translate the Grafana/InfluxQL subset the
reference's dashboards and readback use (SURVEY §2.4 G1-G7; reference
``rg.py:130-131`` runs ``SELECT hash FROM pr_events ORDER BY time DESC
LIMIT 1``) into DataFrame plans — so a user of the reference can paste
their dashboard queries at the Spark engine unchanged.

Supported grammar (case-insensitive keywords; ``"ident"`` double quotes,
``'string'`` single quotes)::

    SELECT <item> [, <item> ...]
      FROM <measurement> | /<measurement-regex>/ | (<subquery>)
      [WHERE <cond> [AND <cond>] ...]
      [GROUP BY time(<dur>)[, <tag> ...]
        [fill(null|none|previous|linear|<number>)]]
      [ORDER BY time [ASC|DESC]] [LIMIT <n>] [OFFSET <m>]
      [SLIMIT <s>] [SOFFSET <so>]

    item := func(<field>) [AS <alias>]
          | percentile(<field>, <N>) [AS <alias>]
          | integral(<field>[, <dur>]) [AS <alias>]
          | derivative(func(<field>)[, <dur>]) [AS <alias>]
          | non_negative_derivative(func(<field>)[, <dur>]) [AS <alias>]
          | moving_average(func(<field>), <N>) [AS <alias>]
          | cumulative_sum(func(<field>)) [AS <alias>]
          | difference(func(<field>)) [AS <alias>]
          | non_negative_difference(func(<field>)) [AS <alias>]
          | holt_winters(func(<field>), <N>, <S>) [AS <alias>]
          | elapsed(<field>[, <dur>]) [AS <alias>]
          | top(<field>, <N>) | bottom(<field>, <N>) [AS <alias>]
          | distinct(<field>) | mode(<field>) [AS <alias>]
          | count(distinct(<field>)) [AS <alias>]
          | <field> | *
    func := mean | sum | count | min | max | first | last | median | spread
          | stddev
    cond := time <op> <time-expr> | <tag> = '<v>' | <tag> != '<v>'
          | <tag> =~ /re/ | <tag> !~ /re/ | $timeFilter
    time-expr := '<timestamp literal>' | now() - <N><u>   (u ∈ s m h d w)

    A trailing ``tz('<Area/City>')`` clause anchors ``GROUP BY time(...)``
    buckets (and the fill() spine) to that zone's local wall clock —
    per-instant DST-aware, the bucket boundary is local midnight on both
    sides of a transition. The fill() spine still steps a fixed interval,
    so a >1d bucket that STRADDLES a DST jump lands on the shifted hour
    (InfluxDB has the same wrinkle for irregular calendar months).

Faithfulness notes:

- ``GROUP BY time(d)`` buckets are EPOCH-ALIGNED floors for sub-week
  units (as InfluxDB aligns them); week-multiple intervals anchor to
  calendar Monday 00:00 (ISO weeks, = DuckDB ``date_trunc('week')``) —
  a bare epoch-mod would put weekly boundaries on Thursdays, 3 days off
  every weekly dashboard (r13; ``influxql_weekly_mean`` is the
  oracle-paired pin).
- ``fill(...)`` emits the full bucket grid between the WHERE time bounds
  (both bounds required — same requirement Grafana's ``$timeFilter``
  satisfies); ``fill(none)``/no fill emits only buckets with data, and the
  grid is per observed tag combination.
- ``mean`` accumulates in DECIMAL and divides once (order-independent, so
  results are reproducible across partitionings and engines); ``first`` /
  ``last`` are ``min_by``/``max_by`` on event time.
- ``now()`` requires an explicit ``now=`` argument (no hidden clock: plans
  stay deterministic and testable); ``$timeFilter`` requires
  ``time_range=(start, end)``.

Scale shape: everything lowers to the engine's native plans — bucketed
partial aggs (one shuffle), scan-pushed time predicates, output-sized fill
grids — identical to the hand-written operators in
:mod:`..operators.timeseries`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.sinks import PARTITION_COL

_DUR_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}

#: Sub-second units for the functions that take them (elapsed); value is
#: the duration in NANOSECONDS (InfluxQL's base unit).
_DUR_NANOS = {"ns": 1, "u": 1_000, "µ": 1_000, "ms": 1_000_000}

_AGG_FUNCS = {
    "mean", "sum", "count", "min", "max", "first", "last", "median",
    "spread", "percentile", "stddev", "integral", "count_distinct", "mode",
}

#: Selector transforms over a GROUP BY time() series (InfluxQL nests the
#: aggregate: ``derivative(mean(value), 1d)``).
_WINDOW_FUNCS = {
    "derivative", "non_negative_derivative", "moving_average",
    "cumulative_sum", "difference", "non_negative_difference",
    "holt_winters", "kaufmans_efficiency_ratio",
}

#: Row-selector functions: emit the N extreme POINTS (with their own
#: timestamps), per bucket/tag series — not one row per group.
_SELECTOR_FUNCS = {"top", "bottom"}

#: Functions that must be the only select item, in dispatch order.
_SOLO_FUNCS = ("distinct", "mode", "holt_winters", "top", "bottom", "elapsed")


class InfluxQLError(ValueError):
    """Raised for queries outside the supported subset."""


#: Distinct statement texts whose parse is kept. Grafana re-sends the same
#: panel text on every refresh, and the server's ``/query`` runner and
#: :func:`influxql` both parse every statement the server answers.
_PARSE_CACHE = 256


# Parsed statements are frozen: parses are cached by text and shared by
# every caller, so a translation must never rewrite one in place.
@dataclass(frozen=True)
class _Item:
    func: str | None  # None = bare field projection
    field: str
    arg: float | None = None  # percentile N / moving_average window
    alias: str | None = None
    inner: "_Item | None" = None  # wrapped aggregate of a window transform
    unit_s: int | None = None  # derivative/integral unit (seconds)
    unit_ns: int | None = None  # elapsed unit (nanoseconds)
    arg2: float | None = None  # holt_winters seasonal pattern length S
    post: tuple[str, float] | None = None  # mean(v) * 8 — trailing scalar op

    @property
    def out(self) -> str:
        return self.alias or (self.func if self.func else self.field)


@dataclass(frozen=True)
class _Query:
    items: tuple[_Item, ...]
    measurement: str
    time_lo: tuple[str, object] | None = None  # (op, value)
    time_hi: tuple[str, object] | None = None
    tag_conds: tuple[tuple[str, str, str], ...] = ()
    field_conds: tuple[tuple[str, str, float], ...] = ()
    uses_time_filter: bool = False
    group_interval_s: int | None = None
    group_offset_s: int = 0  # time(1d, 3h) — the reference's 03:00 anchor
    group_tags: tuple[str, ...] = ()  # may hold "*": every tag
    fill: str | None = None  # "null" | "none" | "previous" | numeric string
    order_desc: bool | None = None
    limit: int | None = None
    offset: int = 0  # LIMIT n OFFSET m row paging
    slimit: int | None = None  # SLIMIT: cap on distinct tag-set series
    soffset: int = 0
    tz: str | None = None  # tz('Area/City') bucket anchor
    subquery: str | None = None  # FROM (SELECT …) inner query text


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if len(ident) >= 2 and ident[0] == '"' and ident[-1] == '"':
        return ident[1:-1]
    return ident


def _num(s: str, what: str) -> float:
    """Finite numeric literal, or InfluxQLError — ``float('nan'/'inf')``
    succeeds and would later blow up ``int()`` with a raw ValueError/
    OverflowError outside the parser's error contract."""
    import math

    try:
        v = float(s.strip())
    except ValueError:
        raise InfluxQLError(f"{what} must be a number, got {s!r}") from None
    if not math.isfinite(v):
        raise InfluxQLError(f"{what} must be finite, got {s!r}")
    return v


def _parse_duration(s: str) -> int:
    m = re.fullmatch(r"(\d+)([smhdw])", s.strip(), re.I)
    if not m:
        raise InfluxQLError(f"unsupported duration: {s!r}")
    return int(m.group(1)) * _DUR_SECONDS[m.group(2).lower()]


def _parse_duration_ns(s: str) -> int:
    """Duration in nanoseconds, accepting InfluxQL's sub-second units too
    (``elapsed(f, 1ms)``)."""
    m = re.fullmatch(r"(\d+)(ns|u|µ|ms|s|m|h|d|w)", s.strip())
    if not m:
        raise InfluxQLError(f"unsupported duration: {s!r}")
    n, unit = int(m.group(1)), m.group(2)
    if unit in _DUR_NANOS:
        return n * _DUR_NANOS[unit]
    return n * _DUR_SECONDS[unit] * 1_000_000_000


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` outside parens/quotes."""
    parts, depth, start, q = [], 0, 0, None
    for i, ch in enumerate(s):
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


_ITEM_RE = re.compile(r"^\s*(?P<func>[a-zA-Z_]+)\s*\(\s*(?P<args>.*)\)\s*$")
_BARE_RE = re.compile(r"^\s*(?P<field>\"[^\"]+\"|\*|\w+)\s*$")


_POST_RE = re.compile(
    r"^(?P<base>.+?[)\w\"])\s*(?P<op>[*/+-])\s*(?P<num>\d+(?:\.\d+)?)\s*$"
)


def _parse_item(raw: str) -> _Item:
    # trailing scalar arithmetic — mean("value") * 8, sum(bytes) / 1024 —
    # the Grafana bits/bytes unit-conversion idiom. Alias first, then the
    # operator, then the base item (one trailing op, numeric literal RHS).
    am = re.search(r"\s+[aA][sS]\s+(?P<alias>\"[^\"]+\"|\w+)\s*$", raw)
    body = raw[: am.start()] if am else raw
    alias = _unquote(am.group("alias")) if am else None
    pm = _POST_RE.match(body.strip())
    if pm and not re.fullmatch(r"\d+(?:\.\d+)?", pm.group("base").strip()):
        item = _parse_item(pm.group("base"))
        if item.func is None and item.field == "*":
            raise InfluxQLError("cannot apply arithmetic to *")
        return replace(
            item,
            post=(pm.group("op"), float(pm.group("num"))),
            alias=alias or item.alias,
        )
    m = _ITEM_RE.match(body)
    if m:
        func = m.group("func").lower()
        if func in _WINDOW_FUNCS:
            args = [a.strip() for a in _split_top_level(m.group("args"), ",")]
            inner = _parse_item(args[0])
            if inner.func not in _AGG_FUNCS:
                raise InfluxQLError(
                    f"{func}() wraps an aggregate, e.g. {func}(mean(value))"
                )
            arg = arg2 = unit_s = None
            if func in ("moving_average", "kaufmans_efficiency_ratio"):
                if len(args) != 2:
                    raise InfluxQLError(f"{func}(agg(f), N) takes two args")
                arg = _num(args[1], f"{func} window")
                if arg < 1 or arg != int(arg):
                    raise InfluxQLError(f"{func} window must be a positive int")
            elif func in (
                "cumulative_sum", "difference", "non_negative_difference"
            ):
                if len(args) != 1:
                    raise InfluxQLError(f"{func}(agg(f)) takes one argument")
            elif func == "holt_winters":
                if len(args) != 3:
                    raise InfluxQLError(
                        "holt_winters(agg(field), N, S) takes three args"
                    )
                arg = _num(args[1], "holt_winters N")
                if arg < 1 or arg != int(arg):
                    raise InfluxQLError("holt_winters N must be a positive int")
                arg2 = _num(args[2], "holt_winters S")
                if arg2 < 0 or arg2 != int(arg2):
                    raise InfluxQLError(
                        "holt_winters S must be a non-negative int "
                        "(seasonal pattern length; 0 = non-seasonal)"
                    )
            elif len(args) == 2:
                unit_s = _parse_duration(args[1])
            elif len(args) != 1:
                raise InfluxQLError(f"{func}() takes one or two args")
            return _Item(
                func, inner.field, arg, alias, inner=inner, unit_s=unit_s,
                arg2=arg2,
            )
        if func in _SELECTOR_FUNCS:
            args = [a.strip() for a in m.group("args").split(",")]
            if len(args) != 2:
                raise InfluxQLError(f"{func}(field, N) takes two args")
            n = _num(args[1], f"{func}() N")
            if n < 1 or n != int(n):
                raise InfluxQLError(f"{func}() N must be a positive int")
            return _Item(func, _unquote(args[0]), n, alias)
        if func == "elapsed":
            args = [a.strip() for a in m.group("args").split(",")]
            if len(args) not in (1, 2):
                raise InfluxQLError("elapsed(field[, unit]) takes one or two args")
            unit_ns = _parse_duration_ns(args[1]) if len(args) == 2 else 1
            return _Item(func, _unquote(args[0]), None, alias, unit_ns=unit_ns)
        if func == "distinct":
            args = [a.strip() for a in m.group("args").split(",")]
            if len(args) != 1:
                raise InfluxQLError("distinct(field) takes one argument")
            return _Item("distinct", _unquote(args[0]), None, alias)
        if func == "count":
            dm = re.fullmatch(
                r"distinct\(\s*(\"[^\"]+\"|\w+)\s*\)", m.group("args").strip()
            )
            if dm:
                return _Item(
                    "count_distinct", _unquote(dm.group(1)), None, alias or "count"
                )
        if func not in _AGG_FUNCS:
            raise InfluxQLError(f"unsupported function: {func}")
        args = [a.strip() for a in m.group("args").split(",")]
        fld = _unquote(args[0])
        arg = None
        if func == "percentile":
            if len(args) != 2:
                raise InfluxQLError("percentile(field, N) takes two args")
            arg = _num(args[1], "percentile N")
        elif func == "integral":
            if len(args) == 2:
                unit_s = _parse_duration(args[1])
            elif len(args) == 1:
                unit_s = 1
            else:
                raise InfluxQLError("integral(field[, unit]) takes one or two args")
            return _Item(func, fld, None, alias, unit_s=unit_s)
        elif len(args) != 1:
            raise InfluxQLError(f"{func}() takes one argument")
        return _Item(func, fld, arg, alias)
    m = _BARE_RE.match(body)
    if m:
        return _Item(None, _unquote(m.group("field")), None, alias)
    raise InfluxQLError(f"cannot parse select item: {raw!r}")


_Q_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<from>\"[^\"]+\"|/[^/]*/|[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<order>time(?:\s+(?:ASC|DESC))?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?:\s+OFFSET\s+(?P<offset>\d+))?"
    r"(?:\s+SLIMIT\s+(?P<slimit>\d+))?"
    r"(?:\s+SOFFSET\s+(?P<soffset>\d+))?\s*;?\s*$",
    re.I | re.S,
)

_TIME_COND_RE = re.compile(
    r"^time\s*(?P<op>>=|<=|>|<|=)\s*(?P<expr>.+)$", re.I
)
_TAG_COND_RE = re.compile(
    r"^(?P<tag>\"[^\"]+\"|\w+)\s*(?P<op>=~|!~|=|!=|<>)\s*"
    r"(?:'(?P<val>[^']*)'|/(?P<re>[^/]*)/)$"
)
_FIELD_COND_RE = re.compile(
    r"^(?P<f>\"[^\"]+\"|\w+)\s*(?P<op>>=|<=|>|<|=|!=|<>)\s*"
    r"(?P<num>-?\d+(?:\.\d+)?)$"
)
_NOW_RE = re.compile(r"^now\(\)\s*(?:-\s*(?P<dur>\d+[smhdw]))?$", re.I)


@lru_cache(maxsize=_PARSE_CACHE)
def parse_influxql(q: str) -> _Query:
    """Parse one SELECT statement; :class:`InfluxQLError` when it is
    outside the subset. Cached by text: parsing is pure and the result is
    frozen."""
    return _parse_influxql(q)


def _parse_influxql(q: str) -> _Query:
    tz = None
    tzm = re.search(r"\s+tz\(\s*'([^']+)'\s*\)\s*;?\s*$", q, re.I)
    if tzm:
        tz = tzm.group(1)
        q = q[: tzm.start()]
    # FROM (SELECT …): lift the balanced-paren inner query out and parse
    # the outer shell against a placeholder measurement; the inner text is
    # compiled recursively at lowering time (nesting works the same way)
    sub = None
    fm = re.search(r"\bFROM\s*\(", q, re.I)
    if fm:
        depth, qch, end = 0, None, None
        for j in range(fm.end() - 1, len(q)):
            ch = q[j]
            if qch:
                if ch == qch:
                    qch = None
            elif ch in "'\"":
                qch = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        if end is None:
            raise InfluxQLError("unbalanced parentheses in FROM subquery")
        sub = q[fm.end(): end].strip()
        q = q[: fm.start()] + " FROM __subquery__ " + q[end + 1:]
    m = _Q_RE.match(q)
    if not m:
        raise InfluxQLError(f"cannot parse query: {q!r}")
    items = [_parse_item(p) for p in _split_top_level(m.group("select"), ",")]
    # grammar-level property, checked at parse so a SQL statement that
    # happens to match the regex (SELECT tag, count(*) … GROUP BY tag) is
    # recognized as not-InfluxQL and callers can fall back to SQL
    if any(i.func for i in items) and any(not i.func for i in items):
        raise InfluxQLError("cannot mix aggregated and bare select items")
    out: dict = {"tz": tz, "subquery": sub}
    measurement = _unquote(m.group("from"))
    if sub is not None:
        # the inner text must itself parse; its measurement names the
        # outer statement's series (the placeholder is never user-visible)
        measurement = parse_influxql(sub).measurement
    tag_conds: list[tuple[str, str, str]] = []
    field_conds: list[tuple[str, str, float]] = []
    group_tags: list[str] = []

    if m.group("where"):
        for raw in re.split(r"\s+AND\s+", m.group("where"), flags=re.I):
            raw = raw.strip()
            if raw == "$timeFilter":
                out["uses_time_filter"] = True
                continue
            tm = _TIME_COND_RE.match(raw)
            if tm:
                op, expr = tm.group("op"), tm.group("expr").strip()
                if op in (">", ">="):
                    out["time_lo"] = (op, expr)
                elif op in ("<", "<="):
                    out["time_hi"] = (op, expr)
                else:
                    raise InfluxQLError("time = <t> is not supported")
                continue
            gm = _TAG_COND_RE.match(raw)
            if gm:
                op = gm.group("op")
                val = gm.group("re") if op in ("=~", "!~") else gm.group("val")
                if val is None:
                    raise InfluxQLError(
                        f"{op} expects {'/regex/' if op in ('=~', '!~') else 'a quoted string'}: {raw!r}"
                    )
                tag_conds.append((_unquote(gm.group("tag")), op, val))
                continue
            fm2 = _FIELD_COND_RE.match(raw)
            if fm2:
                field_conds.append(
                    (
                        _unquote(fm2.group("f")),
                        fm2.group("op"),
                        float(fm2.group("num")),
                    )
                )
                continue
            raise InfluxQLError(f"unsupported WHERE clause: {raw!r}")

    if m.group("group"):
        group = m.group("group")
        fm = re.search(r"fill\(\s*([\w.]+)\s*\)\s*$", group, re.I)
        if fm:
            out["fill"] = fm.group(1).lower()
            group = group[: fm.start()]
        for part in _split_top_level(group, ","):
            part = part.strip().rstrip(",").strip()
            if not part:
                continue
            tg = re.fullmatch(
                r"time\(\s*(\d+[smhdw])\s*(?:,\s*(\d+[smhdw])\s*)?\)",
                part, re.I,
            )
            if tg:
                out["group_interval_s"] = _parse_duration(tg.group(1))
                if tg.group(2):
                    out["group_offset_s"] = _parse_duration(tg.group(2))
            else:
                group_tags.append(_unquote(part))  # may be "*": all tags

    if m.group("order"):
        out["order_desc"] = bool(re.search(r"DESC", m.group("order"), re.I))
    for clause in ("limit", "offset", "slimit", "soffset"):
        if m.group(clause):
            out[clause] = int(m.group(clause))
    return _Query(
        items=tuple(items),
        measurement=measurement,
        tag_conds=tuple(tag_conds),
        field_conds=tuple(field_conds),
        group_tags=tuple(group_tags),
        **out,
    )


def _time_value(expr: str, now) -> Column:
    nm = _NOW_RE.match(expr)
    if nm:
        if now is None:
            raise InfluxQLError(
                "query uses now(); pass now=<datetime> for a deterministic plan"
            )
        col = F.lit(now).cast("timestamp")
        if nm.group("dur"):
            col = col - F.expr(
                f"INTERVAL {_parse_duration(nm.group('dur'))} SECOND"
            )
        return col
    lm = re.fullmatch(r"'([^']+)'", expr)
    if lm:
        return F.lit(lm.group(1)).cast("timestamp")
    raise InfluxQLError(f"unsupported time expression: {expr!r}")


def _agg_column(item: _Item, ts_col: str) -> Column:
    f = F.col(item.field)
    if item.func == "mean":
        # decimal-accumulated (exact, order-independent), then ONE double
        # division of identical operands on every engine — decimal division
        # itself rounds at engine-specific result scales
        return (
            F.sum(f.cast("decimal(27,6)")).cast("double") / F.count(f)
        ).alias(item.out)
    if item.func == "sum":
        return F.sum(f.cast("decimal(27,6)")).cast("double").alias(item.out)
    if item.func == "count":
        return F.count(f).alias(item.out)
    if item.func == "count_distinct":
        return F.count_distinct(f).alias(item.out)
    if item.func == "min":
        return F.min(f).alias(item.out)
    if item.func == "max":
        return F.max(f).alias(item.out)
    if item.func == "first":
        return F.min_by(f, F.col(ts_col)).alias(item.out)
    if item.func == "last":
        return F.max_by(f, F.col(ts_col)).alias(item.out)
    if item.func == "median":
        return F.percentile(f, F.lit(0.5)).alias(item.out)
    if item.func == "percentile":
        return F.percentile(f, F.lit(item.arg / 100.0)).alias(item.out)
    if item.func == "spread":
        return (F.max(f) - F.min(f)).alias(item.out)
    if item.func == "stddev":
        # sample stddev from exact DECIMAL sums (Σx, Σx²) — the merge order
        # of a double accumulator would perturb low bits across engines;
        # (18,6) keeps the square inside the 38-digit cap
        xd = f.cast("decimal(18,6)")
        n = F.count(f)
        sx = F.sum(xd).cast("double")
        sxx = F.sum(xd * xd).cast("double")
        var = (sxx - sx * sx / n) / (n - F.lit(1))
        return F.when(n > 1, F.sqrt(var)).alias(item.out)
    raise InfluxQLError(f"unsupported aggregate: {item.func}")


_SHOW_RE = re.compile(
    r"^\s*SHOW\s+(?P<what>MEASUREMENTS|TAG\s+KEYS|TAG\s+VALUES|FIELD\s+KEYS"
    r"|SERIES|DATABASES|RETENTION\s+POLICIES)"
    r"(?:\s+ON\s+(?:\"[^\"]+\"|[\w.]+))?"
    r"(?:\s+FROM\s+(?P<from>\"[^\"]+\"|[\w.]+))?"
    r"(?:\s+WITH\s+KEY\s*(?P<keyop>=~|=)\s*"
    r"(?P<key>\"[^\"]+\"|/[^/]+/|\w+))?\s*;?\s*$",
    re.I,
)

_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double"}


@lru_cache(maxsize=_PARSE_CACHE)
def parse_show(q: str):
    """Parse a Grafana template-variable SHOW query; None if not one.
    Returns ``(what, from, key, key_is_regex)`` — ``key`` is the tag name
    for ``WITH KEY =`` or the bare regex body for ``WITH KEY =~ /re/``.
    Cached by text, like :func:`parse_influxql`."""
    return _parse_show(q)


def _parse_show(q: str):
    m = _SHOW_RE.match(q)
    if not m:
        return None
    what = re.sub(r"\s+", " ", m.group("what")).upper()
    key = m.group("key")
    key_is_regex = m.group("keyop") == "=~" if key else False
    if key and key.startswith("/") and key.endswith("/"):
        key = key[1:-1]
    elif key:
        key = _unquote(key)
    return (
        what,
        _unquote(m.group("from")) if m.group("from") else None,
        key,
        key_is_regex,
    )


def _tag_keys(df: DataFrame, ts_col: str) -> list[str]:
    """A measurement's tag keys: its string columns other than time."""
    return [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() == "string" and f.name != ts_col
    ]


def _show(source, shown: tuple, ts_col: str) -> DataFrame:
    """Grafana template-variable queries (SHOW MEASUREMENTS / TAG KEYS /
    TAG VALUES FROM m WITH KEY = k / FIELD KEYS) over the session catalog:
    tag keys = string columns, field keys = numeric columns, tag values =
    ``SELECT DISTINCT`` (the G7 operator). Catalog-sized except TAG VALUES
    (one distinct shuffle — exactly what a dashboard variable refresh
    costs). ``shown`` is the :func:`parse_show` tuple."""
    what, measurement, key, key_is_regex = shown
    is_session = callable(getattr(source, "table", None))
    if not is_session and (
        what in ("DATABASES", "RETENTION POLICIES", "MEASUREMENTS")
        or (what == "SERIES" and measurement is None)
    ):
        raise InfluxQLError(f"SHOW {what} needs a SparkSession source")
    if what == "DATABASES":
        # Grafana's InfluxQL datasource issues these on "Save & test" /
        # connect — answer the handshake instead of erroring the dialog
        return source.createDataFrame(
            [(source.catalog.currentDatabase(),)], "name string"
        )
    if what == "RETENTION POLICIES":
        return source.createDataFrame(
            [("autogen", "0s", "168h0m0s", 1, True)],
            "name string, duration string, shardGroupDuration string, "
            "replicaN int, `default` boolean",
        )
    if what == "MEASUREMENTS":
        names = sorted(t.name for t in source.catalog.listTables())
        return source.createDataFrame([(n,) for n in names], "name string")
    if what == "SERIES" and measurement is None:
        # InfluxDB's bare SHOW SERIES spans every measurement; the catalog
        # loop is catalog-sized, each per-table branch one distinct.
        names = sorted(t.name for t in source.catalog.listTables())
        out = None
        for n in names:
            part = _show(source, ("SERIES", n, None, False), ts_col)
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise InfluxQLError("SHOW SERIES: empty catalog")
        return out
    if measurement is None:
        raise InfluxQLError(f"SHOW {what} requires FROM <measurement>")
    df = source.table(measurement) if is_session else source(measurement)
    spark = df.sparkSession
    if what == "TAG KEYS":
        return spark.createDataFrame(
            [(t,) for t in _tag_keys(df, ts_col)], "tagKey string"
        )
    if what == "FIELD KEYS":
        fields = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if f.dataType.simpleString() in _NUMERIC_TYPES
        ]
        return spark.createDataFrame(fields, "fieldKey string, fieldType string")
    if what == "SERIES":
        # one "key" string per distinct tag combination, InfluxDB's
        # measurement,tag1=v1,tag2=v2 format with tags in name order —
        # one distinct shuffle over the tag columns only
        tags = sorted(_tag_keys(df, ts_col))
        if not tags:
            return spark.createDataFrame([(measurement,)], "key string")
        series_key = F.concat_ws(
            ",",
            F.lit(measurement),
            *[
                F.concat_ws("=", F.lit(t), F.col(t).cast("string"))
                for t in tags
            ],
        )
        return (
            df.select(*tags).distinct()
            .select(series_key.alias("key"))
            .orderBy("key")
        )
    # TAG VALUES
    if key is None:
        raise InfluxQLError('SHOW TAG VALUES requires WITH KEY = "<tag>"')
    if key_is_regex:
        # WITH KEY =~ /re/: union distinct (key, value) pairs across every
        # matching tag column (some Grafana variable setups issue this)
        try:
            pat = re.compile(key)
        except re.error as exc:
            raise InfluxQLError(f"bad WITH KEY regex: {exc}") from exc
        tags = [t for t in _tag_keys(df, ts_col) if pat.search(t)]
        if not tags:
            raise InfluxQLError(f"WITH KEY =~ /{key}/ matches no tag key")
        out = None
        for t in tags:
            part = df.select(
                F.lit(t).alias("key"), F.col(t).cast("string").alias("value")
            ).distinct()
            out = part if out is None else out.unionByName(part)
        return out.orderBy("key", "value")
    return (
        df.select(F.lit(key).alias("key"), F.col(key).cast("string").alias("value"))
        .distinct()
        .orderBy("value")
    )


def influxql(
    source,
    query: str,
    ts_col: str = "ts",
    now=None,
    time_range: tuple | None = None,
) -> DataFrame:
    """Run an InfluxQL query (supported subset — module docstring) against
    ``source``: a ``SparkSession`` (measurement = temp view) or a callable
    ``measurement -> DataFrame``.

    ``time_range=(start, end)`` substitutes Grafana's ``$timeFilter``;
    ``now`` anchors ``now()`` arithmetic. SHOW MEASUREMENTS / TAG KEYS /
    TAG VALUES / FIELD KEYS (Grafana template variables) are dispatched to
    the catalog/distinct forms.
    """
    shown = parse_show(query)
    if shown is not None:
        return _show(source, shown, ts_col)
    q = parse_influxql(query)
    # the parse is shared (cached), so the tag list this translation grows
    # (FROM /regex/'s measurement tag, GROUP BY *) is its own copy
    group_tags = list(q.group_tags)

    if q.subquery is not None:
        # compile the inner query against the same source (its own WHERE /
        # $timeFilter / GROUP BY apply inside); the outer query reads the
        # inner's output, whose time column is named "time" once bucketed
        df = influxql(
            source, q.subquery, ts_col=ts_col, now=now, time_range=time_range
        )
        if "time" in df.columns:
            ts_col = "time"
    elif callable(getattr(source, "table", None)):  # SparkSession
        if q.measurement.startswith("/") and q.measurement.endswith("/"):
            # FROM /regex/: union every matching measurement, tagging rows
            # with their source so series stay distinguishable (InfluxDB
            # emits one series per measurement); the tag joins GROUP BY
            # automatically below
            pat = re.compile(q.measurement[1:-1])
            names = sorted(
                tbl.name
                for tbl in source.catalog.listTables()
                if pat.search(tbl.name)
            )
            if not names:
                raise InfluxQLError(
                    f"no measurements match {q.measurement}"
                )
            parts = [
                source.table(n).withColumn("measurement", F.lit(n))
                for n in names
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            if any(i.func for i in q.items) and (
                q.group_interval_s or group_tags
            ):
                if "measurement" not in group_tags:
                    group_tags.append("measurement")
        else:
            df = source.table(q.measurement)
    else:
        df = source(q.measurement)

    ts = F.col(ts_col)
    lo = hi = None
    if q.uses_time_filter:
        if time_range is None:
            raise InfluxQLError(
                "query uses $timeFilter; pass time_range=(start, end)"
            )
        lo_c = F.lit(time_range[0]).cast("timestamp")
        hi_c = F.lit(time_range[1]).cast("timestamp")
        df = df.filter(ts >= lo_c).filter(ts <= hi_c)
        lo, hi = time_range
    if q.time_lo:
        op, expr = q.time_lo
        c = _time_value(expr, now)
        df = df.filter(ts >= c if op == ">=" else ts > c)
        lo = lo or expr
    if q.time_hi:
        op, expr = q.time_hi
        c = _time_value(expr, now)
        df = df.filter(ts <= c if op == "<=" else ts < c)
        hi = hi or expr
    # Date-partitioned sinks (the build_sizes sink writes one directory per
    # PARTITION_COL date): derive partition-key bounds from the time
    # predicates so the scan prunes whole date directories, not just row
    # groups
    if PARTITION_COL in df.columns:
        p_date = F.col(PARTITION_COL)
        if q.uses_time_filter and time_range is not None:
            df = df.filter(
                p_date.between(
                    F.to_date(F.lit(time_range[0])),
                    F.to_date(F.lit(time_range[1])),
                )
            )
        if q.time_lo:
            df = df.filter(
                p_date >= F.to_date(_time_value(q.time_lo[1], now))
            )
        if q.time_hi:
            df = df.filter(
                p_date <= F.to_date(_time_value(q.time_hi[1], now))
            )

    for tag, op, val in q.tag_conds:
        if op in ("=~", "!~"):
            # Grafana template variables expand to =~ /^(a|b|c)$/ — Java
            # regex ∩ RE2 subset, same family the curation regexes use
            cond = F.col(tag).rlike(val)
        else:
            cond = F.col(tag) == F.lit(val)
        df = df.filter(cond if op in ("=", "=~") else ~cond)

    for fld, op, num in q.field_conds:
        c, v = F.col(fld), F.lit(num)
        df = df.filter(
            {
                ">": c > v, ">=": c >= v, "<": c < v, "<=": c <= v,
                "=": c == v, "!=": c != v, "<>": c != v,
            }[op]
        )

    def _apply_posts(res: DataFrame) -> DataFrame:
        # trailing scalar arithmetic runs LAST (after agg / fill /
        # transforms), matching InfluxDB's evaluate-then-scale order
        for i in q.items:
            if i.post is not None:
                op, v = i.post
                c, lv = F.col(i.out), F.lit(v)
                res = res.withColumn(
                    i.out,
                    {"*": c * lv, "/": c / lv, "+": c + lv, "-": c - lv}[op],
                )
        return res

    # tz-aware, offset-anchored epoch floor shared by the GROUP BY bucket,
    # the fill() spine, and the selector bucket: time(1d, 3h) is the
    # reference's 03:00-anchored day (O3); with tz() the floor runs on the
    # zone's wall clock per instant (DST-correct bucket boundaries)
    def _floor_ts(c: Column) -> Column:
        sec, off = q.group_interval_s, q.group_offset_s
        # calendar week anchor (r12 verdict item 6): a bare epoch-mod
        # floor for 1w lands bucket boundaries on THURSDAYS (epoch day
        # zero, 1970-01-01, was one) — 3 days off every weekly
        # dashboard.  Week-multiple intervals anchor to Monday
        # 1970-01-05 00:00 (= +345600 s) instead, matching DuckDB/ISO
        # date_trunc('week'); an explicit time(1w, <off>) offset still
        # applies on top of the calendar anchor.
        if sec % 604800 == 0:
            off += 345600
        local = F.from_utc_timestamp(c, q.tz) if q.tz else c
        sh = F.unix_timestamp(local) - off
        fl = F.timestamp_seconds(sh - (sh % sec) + off)
        return F.to_utc_timestamp(fl, q.tz) if q.tz else fl

    def _row_tail(res: DataFrame) -> DataFrame:
        res = _apply_posts(res)
        # InfluxQL LIMIT n OFFSET m: skip m rows, then take n
        if q.offset:
            res = res.offset(q.offset)
        if q.limit is not None:
            res = res.limit(q.limit)
        return res

    solo = [f for f in _SOLO_FUNCS if any(i.func == f for i in q.items)]
    if solo and len(q.items) != 1:
        name = "top()/bottom()" if solo[0] in _SELECTOR_FUNCS else f"{solo[0]}()"
        raise InfluxQLError(f"{name} cannot be combined with other select items")
    i = q.items[0]

    if i.func == "distinct":
        if q.group_interval_s:
            raise InfluxQLError("distinct() under GROUP BY time is not supported")
        out = (
            df.select(*group_tags, F.col(i.field).alias(i.out))
            .distinct()
            .orderBy(*group_tags, i.out)
        )
        return _row_tail(out)

    if i.func == "mode":
        keys: list[Column] = []
        if q.group_interval_s:
            keys.append(_floor_ts(ts).alias("time"))
        keys += [F.col(t) for t in group_tags]
        key_names = (["time"] if q.group_interval_s else []) + list(group_tags)
        # two partial-aggregable groupBys — count per value, then argmax;
        # InfluxDB's tie rule: the LOWEST value wins
        counted = df.groupBy(*keys, F.col(i.field)).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        out = counted.groupBy(*[F.col(k) for k in key_names]).agg(
            F.min_by(
                i.field, F.struct((-F.col("_cnt")).alias("n"), F.col(i.field))
            ).alias(i.out)
        ) if key_names else counted.agg(
            F.min_by(
                i.field, F.struct((-F.col("_cnt")).alias("n"), F.col(i.field))
            ).alias(i.out)
        )
        if q.order_desc is not None and q.group_interval_s:
            out = out.orderBy(
                F.desc("time") if q.order_desc else F.asc("time")
            )
        return _row_tail(out)

    if i.func == "holt_winters":
        if not q.group_interval_s:
            raise InfluxQLError("holt_winters() requires GROUP BY time(<d>)")
        from ..operators.timeseries import holt_forecast

        keys = [_floor_ts(ts).alias("time")] + [F.col(t) for t in group_tags]
        series = df.groupBy(*keys).agg(
            _agg_column(
                _Item(i.inner.func, i.inner.field, i.inner.arg, i.out), ts_col
            )
        )
        fc = holt_forecast(
            series, dims=list(group_tags), ts="time", value=i.out,
            horizon=int(i.arg), season_length=int(i.arg2 or 0),
        )
        out = fc.select(
            F.col("forecast_ts").alias("time"),
            *group_tags,
            F.col("forecast").alias(i.out),
        )
        if q.order_desc is not None:
            out = out.orderBy(F.desc("time") if q.order_desc else F.asc("time"))
        return _row_tail(out)

    if i.func in _SELECTOR_FUNCS:
        part: list[Column] = [F.col(t) for t in group_tags]
        if q.group_interval_s:
            part.append(_floor_ts(ts))
        val = F.col(i.field).asc() if i.func == "bottom" else F.col(i.field).desc()
        w = Window.partitionBy(*part).orderBy(val, ts)
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(i.arg))
            # selectors keep the POINT's own timestamp (InfluxDB semantics),
            # even under GROUP BY time()
            .select(ts.alias("time"), *group_tags, F.col(i.field).alias(i.out))
        )
        out = out.orderBy(
            F.desc("time") if q.order_desc else F.asc("time"), *group_tags
        )
        return _row_tail(out)

    if i.func == "elapsed":
        if q.group_interval_s:
            raise InfluxQLError("elapsed() is a raw transform, not GROUP BY time")
        w = Window.partitionBy(*[F.col(t) for t in group_tags]).orderBy(ts)
        us = F.unix_micros(ts.cast("timestamp"))
        out = (
            df.withColumn("_dns", (us - F.lag(us, 1).over(w)) * 1000)
            .filter(F.col("_dns").isNotNull())
            # integer `div` in ns space — exact on every engine
            .select(
                ts.alias("time"),
                *group_tags,
                F.expr(f"_dns div {int(i.unit_ns)}").alias(i.out),
            )
        )
        if q.order_desc is not None:
            out = out.orderBy(F.desc("time") if q.order_desc else F.asc("time"))
        return _row_tail(out)

    has_agg = any(i.func for i in q.items)

    if not has_agg:  # raw projection (the reference's readback shape)
        if q.group_interval_s or group_tags:
            # InfluxDB rejects GROUP BY without an aggregate; silently
            # returning ungrouped raw rows would mask the user error
            raise InfluxQLError(
                "GROUP BY requires an aggregate function in SELECT"
            )
        star = any(i.field == "*" for i in q.items)
        cols = (
            df.columns
            if star
            else [F.col(i.field).alias(i.out) for i in q.items]
        )
        out = df.select(*cols)
        if q.order_desc is not None:
            # InfluxDB always carries time in ordered raw results; with
            # SELECT * the ts column is already present — don't duplicate it
            lead = [] if star else [ts.alias("time")]
            order_col = ts_col if star else "time"
            out = df.select(*lead, *cols).orderBy(
                F.desc(order_col) if q.order_desc else F.asc(order_col)
            )
        return _row_tail(out)

    def _lower(i: _Item) -> Column:
        if i.func in _WINDOW_FUNCS:
            if not q.group_interval_s:
                raise InfluxQLError(f"{i.func}() requires GROUP BY time(<d>)")
            # aggregate the wrapped item under the transform's output name;
            # the series transform rewrites the column in place below
            return _agg_column(
                _Item(i.inner.func, i.inner.field, i.inner.arg, i.out), ts_col
            )
        return _agg_column(i, ts_col)

    # Grafana's GROUP BY time($interval), * — expand * to every tag
    # (string) column of the measurement
    if "*" in group_tags:
        all_tags = _tag_keys(df, ts_col)
        group_tags = [t for t in group_tags if t != "*"] + [
            t for t in all_tags if t not in group_tags
        ]

    # integral(field[, unit]): trapezoid areas need consecutive-point lags —
    # a window pre-pass per (tags, bucket) ordered by time; the groupBy then
    # sums the per-pair areas in DECIMAL (partial-aggregable)
    integral_items = [i for i in q.items if i.func == "integral"]
    integral_aggs: dict[int, Column] = {}
    if integral_items:
        part: list[Column] = [F.col(t) for t in group_tags]
        if q.group_interval_s:
            part.append(_floor_ts(ts))
        w_i = Window.partitionBy(*part).orderBy(ts)
        tsec = ts.cast("timestamp").cast("double")
        for n, i in enumerate(integral_items):
            area = (
                (tsec - F.lag(tsec, 1).over(w_i))
                * (F.col(i.field) + F.lag(i.field, 1).over(w_i))
                / 2.0
            )
            df = df.withColumn(f"_area_{n}", area)
            integral_aggs[id(i)] = (
                # round-then-cast (cross-engine hazard #1): a bare
                # double->decimal cast diverges from DuckDB's half-even
                # at .5 boundaries of the 6-dp grid
                F.sum(
                    F.round(F.col(f"_area_{n}"), 6).cast("decimal(28,6)")
                ).cast("double")
                / F.lit(float(i.unit_s))
            ).alias(i.out)

    aggs = [
        integral_aggs[id(i)] if i.func == "integral" else _lower(i)
        for i in q.items
    ]
    keys: list[Column] = []
    if q.group_interval_s:
        keys.append(_floor_ts(ts).alias("time"))
    keys += [F.col(t) for t in group_tags]

    out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    if q.fill not in (None, "none") and q.group_interval_s:
        if not (lo and hi):
            raise InfluxQLError(
                "fill() needs both time bounds in WHERE (as Grafana's "
                "$timeFilter provides)"
            )
        sec = q.group_interval_s

        def _bound_col(v) -> Column:
            # bounds arrive as WHERE-clause expr strings ('…' / now()-…) OR
            # as raw time_range values (bare ISO strings, datetimes) —
            # accept both, falling back to a literal timestamp cast
            if isinstance(v, str):
                try:
                    return _time_value(v, now)
                except InfluxQLError:
                    return F.lit(v).cast("timestamp")
            return F.lit(v).cast("timestamp")

        # same tz-aware offset-anchored floor as the GROUP BY bucket — an
        # epoch-aligned spine would miss every offset/zone-shifted bucket
        # in the join
        spine = (
            df.sparkSession.range(1)
            .select(
                F.explode(
                    F.sequence(
                        _floor_ts(_bound_col(lo)),
                        _floor_ts(_bound_col(hi)),
                        F.expr(f"INTERVAL {sec} SECOND"),
                    )
                ).alias("time")
            )
        )
        if group_tags:
            tags = df.select(*group_tags).distinct()
            spine = spine.crossJoin(F.broadcast(tags))
        out = spine.join(out, ["time", *group_tags], "left")
        value_cols = [i.out for i in q.items]
        if q.fill == "previous":
            w = (
                Window.partitionBy(*group_tags)
                .orderBy("time")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            for c in value_cols:
                out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
        elif q.fill == "linear":
            # InfluxDB fill(linear): interpolate interior gaps between the
            # nearest observed buckets; leading/trailing gaps stay null.
            # Two frames per series (prev/next anchor + its time), pure
            # column math — same shape as the native gap_fill_linear (G3).
            wp = (
                Window.partitionBy(*group_tags)
                .orderBy("time")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            wn = (
                Window.partitionBy(*group_tags)
                .orderBy("time")
                .rowsBetween(0, Window.unboundedFollowing)
            )
            tsec = F.unix_timestamp(F.col("time"))
            for c in value_cols:
                t_obs = F.when(F.col(c).isNotNull(), tsec)
                pv = F.last(c, ignorenulls=True).over(wp)
                pt = F.last(t_obs, ignorenulls=True).over(wp)
                nv = F.first(c, ignorenulls=True).over(wn)
                nt = F.first(t_obs, ignorenulls=True).over(wn)
                interp = pv + (nv - pv) * (tsec - pt) / (nt - pt)
                out = out.withColumn(
                    c, F.coalesce(F.col(c), interp)
                )
        elif q.fill != "null":
            try:
                const = float(q.fill)
            except ValueError:
                raise InfluxQLError(f"unsupported fill: {q.fill!r}") from None
            for c in value_cols:
                out = out.withColumn(c, F.coalesce(F.col(c), F.lit(const)))

    window_items = [i for i in q.items if i.func in _WINDOW_FUNCS]
    if window_items:
        w = Window.partitionBy(*group_tags).orderBy("time")
        tsec = F.unix_timestamp(F.col("time"))
        for i in window_items:
            c = F.col(i.out)
            if i.func == "moving_average":
                n = int(i.arg)
                frame = w.rowsBetween(-(n - 1), 0)
                out = out.withColumn(
                    i.out,
                    F.when(
                        F.count(c).over(frame) >= n, F.avg(c).over(frame)
                    ),
                )
            elif i.func == "cumulative_sum":
                # DECIMAL running sum: the bucket order is deterministic,
                # but decimal keeps the hash engine-stable regardless
                frame = w.rowsBetween(Window.unboundedPreceding, 0)
                out = out.withColumn(
                    i.out,
                    F.sum(c.cast("decimal(28,6)")).over(frame).cast("double"),
                )
            elif i.func == "kaufmans_efficiency_ratio":
                # ER = |x_t − x_{t−N}| / Σ_{last N} |x_i − x_{i−1}| —
                # trend efficiency in [0,1]; per-bucket |Δ| is staged as
                # a real column (HOF/CSE discipline), the N-window
                # volatility sums in DECIMAL, defined from bucket N+1
                # (needs the lag-N point); an all-flat window (vol 0)
                # yields NULL via try_divide, not a division error
                n = int(i.arg)
                out = out.withColumn(
                    f"_ker_d_{i.out}",
                    F.round(F.abs(c - F.lag(c, 1).over(w)), 6).cast(
                        "decimal(28,6)"
                    ),
                )
                frame = w.rowsBetween(-(n - 1), 0)
                vol = F.sum(F.col(f"_ker_d_{i.out}")).over(frame)
                change = F.abs(c - F.lag(c, n).over(w))
                out = out.withColumn(
                    i.out,
                    F.when(
                        F.lag(c, n).over(w).isNotNull(),
                        F.try_divide(change, vol.cast("double")),
                    ),
                ).drop(f"_ker_d_{i.out}")
            elif i.func == "difference":
                out = out.withColumn(i.out, c - F.lag(c).over(w))
            elif i.func == "non_negative_difference":
                d = c - F.lag(c).over(w)
                out = out.withColumn(i.out, F.when(d >= 0, d))
            else:
                # faithful InfluxDB derivative: value delta over the ACTUAL
                # time delta (robust to fill(none) gaps), scaled to unit
                unit = i.unit_s or q.group_interval_s
                d = (
                    (c - F.lag(c).over(w))
                    * F.lit(unit)
                    / (tsec - F.lag(tsec).over(w))
                )
                if i.func == "non_negative_derivative":
                    d = F.when(d >= 0, d)
                out = out.withColumn(i.out, d)
        # InfluxDB emits rows once a transform is defined (from the 2nd
        # bucket / Nth window); with several transforms keep a row when any
        # is defined
        keep = None
        for i in window_items:
            cnd = F.col(i.out).isNotNull()
            keep = cnd if keep is None else (keep | cnd)
        out = out.filter(keep)

    if q.order_desc is not None and q.group_interval_s:
        out = out.orderBy(F.desc("time") if q.order_desc else F.asc("time"))
    if (q.slimit is not None or q.soffset) and group_tags:
        # SLIMIT/SOFFSET page SERIES (distinct tag sets), not rows; the
        # page of tag tuples is slimit-bounded → broadcast semi-join
        tags = out.select(*group_tags).distinct().orderBy(*group_tags)
        if q.soffset:
            tags = tags.offset(q.soffset)
        if q.slimit is not None:
            tags = tags.limit(q.slimit)
        out = out.join(F.broadcast(tags), list(group_tags), "left_semi")
    return _row_tail(out)
