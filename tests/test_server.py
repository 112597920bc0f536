"""HTTP ``/update`` wrapper test (reference ``server.py:19-29``): the
endpoint runs one incremental refresh and reports the ingested delta;
hitting it twice is idempotent (second call reports 0 updates)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from server import HELLO, serve
from riot_graphs_spark.streaming.ingest import incremental_refresh


def _doc(day: int, sha: str, boards: dict[str, dict]) -> str:
    return json.dumps(
        {
            "ts": f"2024-01-{day:02d} 04:00:00",
            "sha": sha,
            "sizes": {"tests_shell": boards},
        }
    )


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return {
        "landing": str(landing),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, r.read().decode()


def test_update_endpoint_idempotent(spark, dirs):
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    with open(f"{dirs['landing']}/day1.json", "w") as f:
        f.write(_doc(1, "sha1", {"native": b, "samr21-xpro": b}))

    def refresh() -> int:
        return incremental_refresh(
            spark, dirs["landing"], dirs["sink"], dirs["ckpt"]
        )

    httpd = serve(refresh, port=0)  # OS-assigned free port
    port = httpd.server_address[1]
    try:
        status, body = _get(f"http://127.0.0.1:{port}/")
        assert status == 200 and body == HELLO

        # First /update ingests the 2 landed (test, board) rows.
        status, body = _get(f"http://127.0.0.1:{port}/update")
        assert status == 200
        assert json.loads(body) == {"status": "ok", "updates": 2}

        # Second /update: nothing new landed → delta 0, still status ok.
        status, body = _get(f"http://127.0.0.1:{port}/update")
        assert json.loads(body) == {"status": "ok", "updates": 0}
    finally:
        httpd.shutdown()


def test_update_endpoint_error_status(spark):
    def refresh() -> int:
        raise RuntimeError("boom")

    httpd = serve(refresh, port=0)
    port = httpd.server_address[1]
    try:
        req = urllib.request.Request(f"http://127.0.0.1:{port}/update")
        try:
            urllib.request.urlopen(req, timeout=30)
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert json.loads(e.read().decode()) == {"status": "error"}
    finally:
        httpd.shutdown()


def test_query_endpoint_speaks_influxdb_wire_format(spark, sf_dir):
    """GET /query?q=<InfluxQL> returns the InfluxDB HTTP API shape a
    Grafana InfluxQL datasource consumes; bad queries get a 400 with the
    error embedded in the results envelope."""
    import urllib.parse

    from server import make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    httpd = serve(lambda: 0, port=0, query_runner=make_query_runner(spark))
    port = httpd.server_address[1]
    try:
        q = urllib.parse.quote(
            "SELECT count(value) AS n, mean(value) AS m FROM events "
            "GROUP BY time(1d) ORDER BY time ASC LIMIT 3"
        )
        status, body = _get(f"http://127.0.0.1:{port}/query?q={q}")
        assert status == 200
        payload = json.loads(body)
        series = payload["results"][0]["series"][0]
        assert series["name"] == "events"
        assert series["columns"] == ["time", "n", "m"]
        assert len(series["values"]) == 3
        # RFC3339 timestamps; counts positive
        assert series["values"][0][0].endswith("Z")
        assert all(v[1] > 0 for v in series["values"])

        bad = urllib.parse.quote("SELECT nonsense(value) FROM events")
        try:
            _get(f"http://127.0.0.1:{port}/query?q={bad}")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            err = json.loads(e.read().decode())
            assert "error" in err["results"][0]
    finally:
        httpd.shutdown()


def test_query_endpoint_accepts_post_form_body(spark, sf_dir):
    import urllib.parse
    import urllib.request

    from server import make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    httpd = serve(lambda: 0, port=0, query_runner=make_query_runner(spark))
    port = httpd.server_address[1]
    try:
        body = urllib.parse.urlencode(
            {"q": "SELECT count(value) AS n FROM events GROUP BY time(1d) LIMIT 2"}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query",
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            payload = json.loads(r.read().decode())
        series = payload["results"][0]["series"][0]
        assert series["name"] == "events" and len(series["values"]) == 2
    finally:
        httpd.shutdown()


def test_query_endpoint_epoch_ms_timestamps(spark, sf_dir):
    import urllib.parse

    from server import make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    httpd = serve(lambda: 0, port=0, query_runner=make_query_runner(spark))
    port = httpd.server_address[1]
    try:
        q = urllib.parse.quote(
            "SELECT count(value) AS n FROM events GROUP BY time(1d) "
            "ORDER BY time ASC LIMIT 2"
        )
        _, body = _get(f"http://127.0.0.1:{port}/query?q={q}&epoch=ms")
        series = json.loads(body)["results"][0]["series"][0]
        t0 = series["values"][0][0]
        assert isinstance(t0, int) and t0 % 86_400_000 == 0  # day-aligned ms
    finally:
        httpd.shutdown()


def test_query_endpoint_multi_statement(spark, sf_dir):
    import urllib.parse

    from server import make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    httpd = serve(lambda: 0, port=0, query_runner=make_query_runner(spark))
    port = httpd.server_address[1]
    try:
        q = urllib.parse.quote(
            "SELECT count(value) AS n FROM events GROUP BY time(1d) LIMIT 1; "
            "SELECT nonsense(value) FROM events; "
            "SHOW MEASUREMENTS"
        )
        status, body = _get(f"http://127.0.0.1:{port}/query?q={q}")
        assert status == 200  # one bad statement doesn't fail the batch
        results = json.loads(body)["results"]
        assert [r["statement_id"] for r in results] == [0, 1, 2]
        assert "series" in results[0] and "error" in results[1]
        assert results[2]["series"][0]["name"] == "measurements"
    finally:
        httpd.shutdown()


def test_split_statements_respects_regex_matchers():
    from server import _split_statements

    q = (
        "SELECT count(value) FROM events WHERE event_type =~ /a;b/ "
        "GROUP BY time(1h); SELECT max(value) FROM events"
    )
    parts = _split_statements(q)
    assert len(parts) == 2
    assert "/a;b/" in parts[0]
    # quotes still respected alongside regexes
    assert _split_statements("SELECT 1 WHERE t = 'x;y'; SELECT 2") == [
        "SELECT 1 WHERE t = 'x;y'",
        "SELECT 2",
    ]


def test_query_payload_marks_truncation_partial(spark, sf_dir):
    import server as srv
    from server import _influx_results, make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    runner = make_query_runner(spark)
    old = srv.QUERY_ROW_CAP
    srv.QUERY_ROW_CAP = 5
    try:
        results = _influx_results(
            runner, "SELECT event_id FROM events LIMIT 100", None
        )
        series = results[0]["series"][0]
        assert len(series["values"]) == 5
        assert series["partial"] is True
        assert results[0]["partial"] is True
        # an un-truncated statement carries no partial flag
        results2 = _influx_results(
            runner, "SELECT event_id FROM events LIMIT 3", None
        )
        assert "partial" not in results2[0]["series"][0]
    finally:
        srv.QUERY_ROW_CAP = old


def test_query_endpoint_splits_series_per_tag_combination(spark, sf_dir):
    """InfluxDB emits one series object PER GROUP BY tag combination with
    the tag values in a "tags" dict (not flattened into columns) —
    Grafana's $tag_x alias-by-series panels consume exactly this shape
    (r12 verdict item 5; closes the docs/INFLUXQL.md flatten deviation).
    The tag set is the translated statement's: ``GROUP BY *`` expands to
    every tag, ``FROM /regex/`` adds the ``measurement`` tag, and a
    subquery's series is named after its inner measurement."""
    import datetime as dt

    from server import _influx_results, make_query_runner
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    runner = make_query_runner(spark)
    results = _influx_results(
        runner,
        "SELECT count(value) AS n FROM events "
        "GROUP BY time(1d), event_type ORDER BY time ASC",
        None,
    )
    series = results[0]["series"]
    assert len(series) > 1  # one per event_type, not one flattened table
    names = [s["tags"]["event_type"] for s in series]
    assert names == sorted(names)  # deterministic series order
    for s in series:
        assert s["name"] == "events"
        assert set(s["tags"].keys()) == {"event_type"}
        # tag column is NOT flattened into the value columns
        assert s["columns"] == ["time", "n"]
        assert len(s["values"]) >= 1
        assert s["values"][0][0].endswith("Z")
    # tagless GROUP BY time stays a single series with no tags object
    results2 = _influx_results(
        runner,
        "SELECT count(value) AS n FROM events "
        "GROUP BY time(1d) ORDER BY time ASC LIMIT 2",
        None,
    )
    s2 = results2[0]["series"]
    assert len(s2) == 1 and "tags" not in s2[0]

    # two small measurements of (ts, board, test, value)
    day = dt.datetime(2024, 1, 1, 4)
    rows_a = [
        (day + dt.timedelta(days=d), b, t, float(d))
        for d in range(2) for b in ("native", "iotlab-m3") for t in ("t1", "t2")
    ]
    schema = "ts timestamp, board string, test string, value double"
    views = {"srv_sizes_a": rows_a, "srv_sizes_b": rows_a[:3]}
    for name, rows in views.items():
        spark.createDataFrame(rows, schema).createOrReplaceTempView(name)
    try:
        # GROUP BY time(1d), *: one series per (board, test) tag set
        star = _influx_results(
            runner,
            "SELECT count(value) AS n FROM srv_sizes_a GROUP BY time(1d), *",
            None,
        )[0]
        assert "error" not in star, star
        tag_sets = [s["tags"] for s in star["series"]]
        assert len(tag_sets) == 4
        assert {(t["board"], t["test"]) for t in tag_sets} == {
            (b, t) for b in ("native", "iotlab-m3") for t in ("t1", "t2")
        }
        for s in star["series"]:
            assert s["columns"] == ["time", "n"] and len(s["values"]) == 2

        # FROM /regex/: one series per matched measurement
        rx = _influx_results(
            runner,
            "SELECT count(value) AS n FROM /^srv_sizes_/ GROUP BY time(1d)",
            None,
        )[0]
        assert "error" not in rx, rx
        assert [s["tags"] for s in rx["series"]] == [
            {"measurement": "srv_sizes_a"}, {"measurement": "srv_sizes_b"}
        ]
        for s in rx["series"]:
            assert s["columns"] == ["time", "n"]

        # FROM (SELECT …): named after the inner measurement
        sub = _influx_results(
            runner,
            "SELECT max(n) AS m FROM (SELECT count(value) AS n "
            "FROM srv_sizes_a GROUP BY time(1d), board) GROUP BY time(1d)",
            None,
        )[0]
        assert "error" not in sub, sub
        assert [s["name"] for s in sub["series"]] == ["srv_sizes_a"]
        assert sub["series"][0]["columns"] == ["time", "m"]
        assert [v[1] for v in sub["series"][0]["values"]] == [2, 2]
    finally:
        for name in views:
            spark.catalog.dropTempView(name)


def test_query_runner_parses_each_statement_once(spark, monkeypatch):
    """A /query statement is parsed once, by text, and shared by the runner
    and the translator: a batch of distinct statements costs one real parse
    each, and re-sending it (a Grafana refresh) costs none. Translating
    ``GROUP BY *`` leaves the shared parse as written."""
    import datetime as dt

    from server import _influx_results, make_query_runner
    from riot_graphs_spark.functions import influxql as iql

    real = {"select": 0, "show": 0}

    def counted(kind, fn):
        def wrapper(q):
            real[kind] += 1
            return fn(q)

        return wrapper

    monkeypatch.setattr(
        iql, "_parse_influxql", counted("select", iql._parse_influxql)
    )
    monkeypatch.setattr(iql, "_parse_show", counted("show", iql._parse_show))
    iql.parse_influxql.cache_clear()
    iql.parse_show.cache_clear()

    day = dt.datetime(2024, 1, 1, 4)
    rows = [(day + dt.timedelta(days=d), b, float(d))
            for d in range(2) for b in ("native", "esp32")]
    spark.createDataFrame(
        rows, "ts timestamp, board string, value double"
    ).createOrReplaceTempView("srv_parse_m")
    star = "SELECT count(value) AS n FROM srv_parse_m GROUP BY time(1d), *"
    batch = (
        f"{star}; SELECT last(value) AS v FROM srv_parse_m GROUP BY board; "
        "SHOW TAG VALUES FROM srv_parse_m WITH KEY = board"
    )
    runner = make_query_runner(spark)
    try:
        first = _influx_results(runner, batch, None)
        assert all("error" not in r for r in first), first
        assert real == {"select": 2, "show": 3}
        again = _influx_results(runner, batch, None)
        assert all("error" not in r for r in again), again
        assert real == {"select": 2, "show": 3}
        assert [len(r["series"]) for r in first] == [2, 2, 1]
        assert iql.parse_influxql(star).group_tags == ("*",)
    finally:
        spark.catalog.dropTempView("srv_parse_m")
        iql.parse_influxql.cache_clear()
        iql.parse_show.cache_clear()
