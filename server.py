#!/usr/bin/env python
"""Thin HTTP service wrapper around the engine's incremental refresh —
reference parity with ``riot_graphs/server.py:19-29`` (Flask app exposing
``/`` → hello string and ``/update`` → ``{"status": "ok", "updates": N}``).

Deliberately OUTSIDE the engine package: the engine stays a library; this is
the ops-facing shell. Uses only stdlib ``http.server`` (no Flask in the
container). ``/update`` runs one availableNow streaming pass and reports the
number of NEW rows ingested by that call (reference ``rg.py:156`` returns
the delta, not the sink total); a no-op refresh reports 0. The stream's plan
is built on the first ``/update`` and reused by every later one, and each
call logs one JSON progress record
(:func:`riot_graphs_spark.streaming.ingest.incremental_refresh`).
``/query`` statements are parsed once per distinct text: the runner and the
translator share the cached parse.

Run: ``python server.py --landing DIR --sink DIR --checkpoint DIR
[--host H] [--port P]``. Updates are serialized with a lock — concurrent
``/update`` calls queue rather than racing the streaming checkpoint.
"""

from __future__ import annotations

import argparse
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

HELLO = "RIOT CI graphing application"


#: /query responses cap collected rows — the endpoint serves dashboards
#: (bucket-sized aggregates), never bulk export; a runaway raw SELECT must
#: not pull a fact table into the driver.
QUERY_ROW_CAP = 10_000


def _split_statements(q: str) -> list[str]:
    """Split a /query body on top-level semicolons (InfluxQL batches panel
    queries that way); quotes AND ``/regex/`` tag matchers are respected
    (``tag =~ /a;b/`` is one statement), empty statements dropped. A ``/``
    opens a regex only right after ``=~``/``!~`` — a bare division slash
    can't swallow the rest of the batch."""
    parts, start, quote, in_re = [], 0, None, False
    prev = ""
    for i, ch in enumerate(q):
        if quote:
            if ch == quote:
                quote = None
        elif in_re:
            if ch == "/" and prev != "\\":
                in_re = False
        elif ch in "'\"":
            quote = ch
        elif ch == "/" and prev == "~":
            in_re = True
        elif ch == ";":
            parts.append(q[start:i])
            start = i + 1
        if not ch.isspace():
            prev = ch
    parts.append(q[start:])
    return [p.strip() for p in parts if p.strip()]


def _influx_results(query_runner, q: str, epoch: str | None) -> list[dict]:
    """Run every ';'-separated statement; one results entry per statement
    (statement_id increments), errors embedded per statement as InfluxDB
    does — one bad panel query doesn't blank the whole dashboard."""
    import datetime as _dt

    scale = {"s": 1, "ms": 1_000, "us": 1_000_000}.get(epoch or "")

    def cell(v):
        if isinstance(v, _dt.datetime):
            if scale:
                ts = v.replace(tzinfo=_dt.timezone.utc) if v.tzinfo is None else v
                return int(ts.timestamp() * scale)
            return v.strftime("%Y-%m-%dT%H:%M:%SZ")
        return v

    results = []
    for sid, stmt in enumerate(_split_statements(q)):
        try:
            # GROUP BY tags: InfluxDB splits the response into one series
            # PER TAG COMBINATION with the tag values in a "tags" object,
            # not flattened into columns — Grafana's alias-by-series
            # ($tag_x) panels depend on it
            df, measurement, group_tags = query_runner(stmt)
            # collect cap+1 so truncation is detectable; InfluxDB marks a
            # clipped response with "partial": true and Grafana surfaces it
            rows = df.limit(QUERY_ROW_CAP + 1).collect()
            partial = len(rows) > QUERY_ROW_CAP
            rows = rows[:QUERY_ROW_CAP]
            cols = df.columns
            if group_tags:
                val_cols = [c for c in cols if c not in group_tags]
                by_tags: dict[tuple, list] = {}
                for r in rows:
                    k = tuple(
                        "" if r[t] is None else str(r[t])
                        for t in group_tags
                    )
                    by_tags.setdefault(k, []).append(
                        [cell(r[c]) for c in val_cols]
                    )
                series_list = [
                    {
                        "name": measurement,
                        "tags": dict(zip(group_tags, k)),
                        "columns": val_cols,
                        "values": by_tags[k],
                    }
                    for k in sorted(by_tags)
                ]
            else:
                series_list = [
                    {
                        "name": measurement,
                        "columns": cols,
                        "values": [
                            [cell(r[c]) for c in cols] for r in rows
                        ],
                    }
                ]
            if partial:
                for s in series_list:
                    s["partial"] = True
            entry = {"statement_id": sid, "series": series_list}
            if partial:
                entry["partial"] = True
            results.append(entry)
        except Exception as exc:  # noqa: BLE001 — per-statement error slot
            results.append({"statement_id": sid, "error": str(exc)})
    return results


def make_handler(refresh, query_runner=None):
    """Build a request handler bound to a zero-arg ``refresh() -> int``
    callable (returns rows ingested, raises on failure) and an optional
    ``query_runner(influxql_str) -> (DataFrame, measurement, group_tags)``
    enabling the InfluxDB-compatible ``GET``/``POST /query?q=...``
    endpoint: the response carries one series per distinct combination of
    the ``group_tags`` columns' values (one untagged series when empty)."""
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, body: str, ctype: str = "application/json"):
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _query(self, params: dict[str, list[str]]) -> None:
            """Answer a /query request (GET or POST): 400 when ``q`` is
            missing or every statement failed, otherwise 200."""
            q = params.get("q", [""])[0]
            if not q:
                self._send(400, json.dumps({"error": "missing q parameter"}))
                return
            results = _influx_results(
                query_runner, q, params.get("epoch", [None])[0]
            )
            all_err = all("error" in r for r in results)
            self._send(400 if all_err else 200, json.dumps({"results": results}))

        def do_GET(self):  # noqa: N802 (http.server API)
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            if url.path == "/":
                self._send(200, HELLO, ctype="text/plain")
            elif url.path == "/update":
                try:
                    with lock:
                        n = refresh()
                    self._send(200, json.dumps({"status": "ok", "updates": n}))
                except Exception:  # reference returns {'status': 'error'}
                    self._send(500, json.dumps({"status": "error"}))
            elif url.path == "/query" and query_runner is not None:
                self._query(parse_qs(url.query))
            else:
                self._send(404, json.dumps({"status": "not found"}))

        def do_POST(self):  # noqa: N802 — Grafana POSTs /query
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            if url.path != "/query" or query_runner is None:
                self._send(404, json.dumps({"status": "not found"}))
                return
            length = int(self.headers.get("Content-Length", 0) or 0)
            body = self.rfile.read(length).decode() if length else ""
            params = parse_qs(body)
            params.update(parse_qs(url.query))  # q may ride either way
            self._query(params)

        def log_message(self, *args):  # quiet by default
            pass

    return Handler


def serve(
    refresh, host: str = "127.0.0.1", port: int = 8080, query_runner=None
) -> ThreadingHTTPServer:
    """Start the server (non-blocking); caller owns shutdown()."""
    httpd = ThreadingHTTPServer(
        (host, port), make_handler(refresh, query_runner)
    )
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd


def make_query_runner(spark):
    """``query_runner`` over the session's temp views: translates each
    statement via :func:`riot_graphs_spark.functions.influxql.influxql` and
    returns ``(df, measurement, group_tags)``. The tags are read off the
    translated frame — every column but ``time`` and the select items'
    output names, when every item is a function call — so they include
    what the translator adds (``GROUP BY *`` expanded to every tag, the
    ``measurement`` tag of a ``FROM /regex/``). They drive the per-tag
    series split in the wire response (InfluxDB emits one series per tag
    combination; Grafana's ``$tag_x`` aliasing reads it). Parses are cached
    by text, so the runner's parse is the one ``influxql()`` reuses."""
    from riot_graphs_spark.functions import influxql as iql

    def run(q: str):
        shown = iql.parse_show(q)
        if shown is not None:
            name = shown[1] or shown[0].lower().replace(" ", "_")
            return iql.influxql(spark, q), name, []
        parsed = iql.parse_influxql(q)
        df = iql.influxql(spark, q)
        tags: list[str] = []
        if all(i.func for i in parsed.items):
            values = {"time", *(i.out for i in parsed.items)}
            tags = [c for c in df.columns if c not in values]
        return df, parsed.measurement, tags

    return run


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", help="INI config (reference GraphConf layout)")
    ap.add_argument("--landing")
    ap.add_argument("--sink")
    ap.add_argument("--checkpoint")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument(
        "--tables",
        help="directory of parquet tables to register and expose via the "
        "InfluxDB-compatible GET /query endpoint",
    )
    args = ap.parse_args()

    from riot_graphs_spark.session import get_spark
    from riot_graphs_spark.streaming.ingest import incremental_refresh

    landing, sink, ckpt = args.landing, args.sink, args.checkpoint
    shuffle = None
    if args.config:
        from riot_graphs_spark.config import load_config

        conf = load_config(args.config)
        landing = landing or conf.landing_dir
        sink = sink or conf.sink_path
        ckpt = ckpt or conf.checkpoint_dir
        shuffle = conf.shuffle_partitions
    if not (landing and sink and ckpt):
        ap.error("--landing/--sink/--checkpoint (or --config) are required")

    spark = get_spark(
        app_name="riot-graphs-server",
        **({"shuffle_partitions": shuffle} if shuffle else {}),
    )

    def refresh() -> int:
        return incremental_refresh(spark, landing, sink, ckpt)

    query_runner = None
    if args.tables:
        from riot_graphs_spark.sources.tables import register_tables

        register_tables(spark, args.tables)
        query_runner = make_query_runner(spark)

    httpd = ThreadingHTTPServer(
        (args.host, args.port), make_handler(refresh, query_runner)
    )
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        httpd.shutdown()


if __name__ == "__main__":
    main()
