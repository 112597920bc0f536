"""Config-surface tests (reference ``GraphConf``, ``rg.py:375-414``): a
reference-shaped config.ini parses unchanged; missing required options fail
fast with the reference's message shape; the [spark] section layers engine
paths with repo_path-derived defaults."""

from __future__ import annotations

import pytest

from riot_graphs_spark.config import ConfigError, EngineConf, load_config

REFERENCE_INI = """
[influxdb]
hostname = localhost
port = 8086
database = riot
batch_size = 20
username = riotgraph
password = hunter2

[github]
repo = RIOT-OS/RIOT

[riot]
ci-url = https://ci.riot-os.org/
size-file = sizes.json
"""


def test_reference_config_parses_unchanged(tmp_path):
    p = tmp_path / "config.ini"
    p.write_text(REFERENCE_INI)
    c = load_config(str(p))
    # engine paths derive from the reference's repo_path fallback (./RIOT)
    # when [spark] is absent
    assert c.sink_path == "./RIOT/spark/sink"
    assert c.landing_dir == "./RIOT/spark/landing"
    assert c.checkpoint_dir == "./RIOT/spark/checkpoint"
    assert c.shuffle_partitions is None


def test_missing_required_option_fails_fast(tmp_path):
    p = tmp_path / "bad.ini"
    # [riot] present but size-file missing → required (reference parity)
    p.write_text("[riot]\nci-url = https://ci.riot-os.org/\n")
    with pytest.raises(ConfigError, match="Config error in"):
        load_config(str(p))


def test_missing_file_fails_fast(tmp_path):
    with pytest.raises(ConfigError, match="Config error in"):
        load_config(str(tmp_path / "nope.ini"))


def test_spark_section_overrides_and_pure_spark_config(tmp_path):
    p = tmp_path / "spark.ini"
    p.write_text(
        "[main]\nevents = false\n\n"
        "[spark]\n"
        "sink_path = /data/sink\n"
        "landing_dir = /data/landing\n"
        "checkpoint_dir = /ckpt\n"
        "shuffle_partitions = 4096\n"
    )
    c = load_config(str(p))  # no [influxdb] section: pure-Spark deploy
    assert c.sink_path == "/data/sink"
    assert c.landing_dir == "/data/landing"
    assert c.checkpoint_dir == "/ckpt"
    assert c.shuffle_partitions == 4096
    assert isinstance(c, EngineConf)
