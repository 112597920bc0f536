"""Configuration surface — parity with the reference's ``GraphConf``
(reference ``rg.py:375-414``; sample ``config.ini`` at the repo root of the
reference).

A reference user's existing ``config.ini`` parses unchanged: same sections
(``[main]``, ``[influxdb]``, ``[github]``, ``[riot]``), same option names,
and the same fail-fast behavior on a missing required option (the
reference raises ``SystemExit``; here that is a catchable
:class:`ConfigError` carrying the same message shape).

Spark-first re-mapping: the reference's options (InfluxDB connection, CI
URL, GitHub repo) have no meaning for a Spark engine and are checked, not
kept. An optional ``[spark]`` section supplies what the engine actually
needs — ``sink_path`` / ``landing_dir`` / ``checkpoint_dir`` and
``shuffle_partitions``. When absent, paths default relative to ``[riot]
repo_path`` (fallback ``./RIOT``) so a bare reference config still yields a
runnable engine layout. Nothing here opens connections or sessions; this is a plain parsed
record handed to :mod:`riot_graphs_spark.session` / the server wrapper.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass


class ConfigError(Exception):
    """A required option is missing or malformed (reference ``rg.py:413-414``
    exits the process; a library must leave that choice to the caller)."""


@dataclass
class EngineConf:
    # [spark] — engine-side layout (defaults derive from [riot] repo_path)
    sink_path: str
    landing_dir: str
    checkpoint_dir: str
    shuffle_partitions: int | None = None


#: Options the reference requires whenever their section is present. The
#: engine reads none of them, but a config the reference rejects fails here
#: too.
_REQUIRED = {"influxdb": ("hostname", "port", "database"),
             "riot": ("ci-url", "size-file")}


def load_config(path: str) -> EngineConf:
    """Parse ``path`` into an :class:`EngineConf`.

    Required options mirror the reference exactly: ``[influxdb]`` hostname/
    port/database and ``[riot]`` ci-url/size-file are required *when their
    section is present*; a config with no ``[influxdb]`` section at all is
    accepted (pure-Spark deployment — there is nothing to connect to).
    """
    parser = configparser.ConfigParser()
    read = parser.read(path)
    if not read:
        raise ConfigError(f"Config error in {path}: file not found/readable")

    try:
        for section, options in _REQUIRED.items():
            if parser.has_section(section):
                for option in options:
                    parser.get(section, option)
        if parser.has_section("influxdb"):
            parser.getint("influxdb", "port")

        base = parser.get("riot", "repo_path", fallback="./RIOT").rstrip("/")
        sp = parser.get("spark", "shuffle_partitions", fallback=None)
        return EngineConf(
            sink_path=parser.get(
                "spark", "sink_path", fallback=f"{base}/spark/sink"
            ),
            landing_dir=parser.get(
                "spark", "landing_dir", fallback=f"{base}/spark/landing"
            ),
            checkpoint_dir=parser.get(
                "spark", "checkpoint_dir", fallback=f"{base}/spark/checkpoint"
            ),
            shuffle_partitions=int(sp) if sp is not None else None,
        )
    except (configparser.NoOptionError, configparser.NoSectionError, ValueError) as e:
        # same message shape as the reference's SystemExit (rg.py:413-414)
        raise ConfigError(f"Config error in {path}: {e}") from e
