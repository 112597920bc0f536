"""E1/E2 batch-fetch tests (plans/fetch.py, cli.py): anchored-day window
selection, one-query backfill, idempotent re-fetch, and --noop dry runs
through the CLI with a reference-shaped config."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from riot_graphs_spark.plans.fetch import batch_fetch

NOW = dt.datetime(2024, 1, 3, 12, 0)  # anchor → 2024-01-03 03:00


def _doc(day: int, sha: str, boards: dict[str, dict]) -> str:
    return json.dumps(
        {
            "ts": f"2024-01-{day:02d} 04:00:00",
            "sha": sha,
            "sizes": {"tests_shell": boards},
        }
    )


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    b = {"bss": 1, "text": 2, "data": 3, "count": 0}
    (d / "day1.json").write_text(_doc(1, "sha1", {"native": b}))
    (d / "day2.json").write_text(_doc(2, "sha2", {"native": b, "esp32": b}))
    return str(d)


def test_fetch_single_day_windows(spark, landing, tmp_path):
    sink = str(tmp_path / "sink")
    # days=0 → [Jan 2 03:00, Jan 3 03:00): only day-2 rows (2 boards)
    assert batch_fetch(spark, landing, sink, days=0, now=NOW) == 2
    # days=1 → [Jan 1 03:00, Jan 2 03:00): only the day-1 row
    assert batch_fetch(spark, landing, sink, days=1, now=NOW) == 1
    got = spark.read.parquet(sink)
    assert got.count() == 3
    # re-fetch is idempotent: same window, all keys already stored → 0
    assert batch_fetch(spark, landing, sink, days=0, now=NOW) == 0


def test_fetch_history_is_one_query(spark, landing, tmp_path):
    sink = str(tmp_path / "sink")
    # E2: two days of backfill in ONE predicate — no day loop
    assert batch_fetch(spark, landing, sink, history=2, now=NOW) == 3
    assert spark.read.parquet(sink).count() == 3


def test_fetch_noop_counts_without_writing(spark, landing, tmp_path):
    sink = str(tmp_path / "sink")
    assert batch_fetch(spark, landing, sink, history=2, noop=True, now=NOW) == 3
    with pytest.raises(Exception):  # nothing was written
        spark.read.parquet(sink).count()


def test_fetch_noop_after_real_fetch_reports_nothing_new(spark, landing, tmp_path):
    """--noop runs the real fetch's anti-join against the sink: after the
    window has been ingested it reports 0, as a real re-fetch would."""
    import glob

    sink = str(tmp_path / "sink")
    assert batch_fetch(spark, landing, sink, history=2, now=NOW) == 3
    files = sorted(glob.glob(f"{sink}/**/*.parquet", recursive=True))
    assert batch_fetch(spark, landing, sink, history=2, noop=True, now=NOW) == 0
    assert sorted(glob.glob(f"{sink}/**/*.parquet", recursive=True)) == files
    assert spark.read.parquet(sink).count() == 3


def test_cli_fetch_noop_with_reference_config(spark, landing, tmp_path, capsys):
    cfg = tmp_path / "config.ini"
    cfg.write_text(
        "[github]\nrepo = RIOT-OS/RIOT\n\n"
        f"[spark]\nlanding_dir = {landing}\n"
        f"sink_path = {tmp_path / 'sink'}\n"
        f"checkpoint_dir = {tmp_path / 'ckpt'}\n"
    )
    import cli

    rc = cli.main(["fetch", "--history", "20000", "--noop", str(cfg)])
    assert rc == 0
    # a ~55-year window spans the fixture dates regardless of wall clock
    assert capsys.readouterr().out.strip().endswith("3")


def test_cli_rejects_bad_config(tmp_path):
    import cli

    with pytest.raises(SystemExit, match="Config error"):
        cli.main(["fetch", str(tmp_path / "missing.ini")])


def test_cli_query_runs_influxql_and_sql(spark, sf_dir, capsys):
    import json as _json

    import cli

    rc = cli.main([
        "query", "--tables", sf_dir, "--limit", "5",
        "SELECT count(value) AS n FROM events GROUP BY time(1d) ORDER BY time ASC",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l]
    assert 1 <= len(lines) <= 5
    assert all(_json.loads(l)["n"] > 0 for l in lines)

    rc = cli.main([
        "query", "--tables", sf_dir, "--limit", "3",
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l]
    assert lines and all("event_type" in _json.loads(l) for l in lines)


def test_cli_curate_writes_sharded_corpus(spark, sf_dir, tmp_path, capsys):
    import json as _json

    import cli

    out = str(tmp_path / "curated")
    rc = cli.main(["curate", "--tables", sf_dir, "--out", out, "--shards", "4"])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["docs_kept"] <= stats["docs_in"]
    written = spark.read.parquet(out)
    assert {"doc_id", "text", "shard_pos"} <= set(written.columns)
    shards = {r.shard for r in written.select("shard").distinct().collect()}
    assert shards <= set(range(4))
    assert written.count() == stats["docs_kept"]


def test_cli_query_preserves_shim_error_for_real_influxql(spark, sf_dir):
    # a query that PARSES as InfluxQL but can't translate must raise the
    # shim's message, not fall through to an unrelated Spark SQL error
    import pytest as _pytest

    import cli
    from riot_graphs_spark.functions.influxql import InfluxQLError

    with _pytest.raises(InfluxQLError, match="timeFilter"):
        cli.main([
            "query", "--tables", sf_dir,
            "SELECT count(value) AS n FROM events WHERE $timeFilter "
            "GROUP BY time(1h)",
        ])
