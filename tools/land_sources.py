#!/usr/bin/env python
"""Land raw RIOT sources into the engine's landing zone.

The reference executes ingestion inline: it shells ``git log`` and HTTP-GETs
the CI ``sizes.json`` inside the query process (``riot_graphs/rg.py:86-104``
fetch_stats, ``rg.py:182-209`` get_commits_since_sha/between). At 100 TB the
engine must NOT fetch from inside executors — ingestion is Structured
Streaming over a landing zone (``riot_graphs_spark/streaming/ingest.py``).
This utility is the missing ops-side producer: it runs the exact same two
acquisitions the reference runs and drops their output where the streams
pick it up.

Layout written (consumed by the engine):

- ``<landing>/commits/<name>.log`` — raw ``git log --merges
  --format=%H\\x1f%cd\\x1f%s --date=iso8601`` text, one commit per line
  (parsed by ``sources.commits.parse_commit_log`` over ``spark.read[Stream]
  .text``).
- ``<landing>/sizes/<sha>.json`` — one JSON document per build,
  ``{"ts": <Last-Modified>, "sha": ..., "sizes": {...}}`` matching
  ``schemas.SIZES_RAW`` (consumed by ``streaming.ingest.incremental_refresh``
  and ``plans.fetch.batch_fetch``, which both land it through
  ``sources.sinks.merge_append``).

Deliberately stdlib-only (subprocess + urllib): this is an ops script that
runs on a cron box or sidecar, not on the cluster.
"""

from __future__ import annotations

import argparse
import datetime
import email.utils
import json
import subprocess
import sys
import urllib.request
from pathlib import Path

#: The reference's --format string, unit-separator fields (rg.py:184).
GIT_LOG_FORMAT = "%H\x1f%cd\x1f%s"


def git_log_merges(
    repo_path: str,
    since_sha: str | None = None,
    since: str | None = None,
    before: str | None = None,
    merges: bool = True,
) -> str:
    """Run the reference's commit acquisition and return the raw text.

    ``since_sha`` maps to the delta form ``{sha}..HEAD`` (rg.py:182-188);
    ``since``/``before`` map to the windowed form (rg.py:190-209). The two
    forms are mutually exclusive, exactly as in the reference.
    """
    if since_sha and (since or before):
        raise ValueError("since_sha and since/before are mutually exclusive")
    cmd = ["git", "-C", repo_path, "log", f"--format={GIT_LOG_FORMAT}",
           "--date=iso8601"]
    if merges:
        cmd.insert(4, "--merges")
    if since_sha:
        cmd.append(f"{since_sha}..HEAD")
    if before:
        cmd.append(f"--before={before}")
    if since:
        cmd.append(f"--since={since}")
    out = subprocess.run(
        cmd, check=True, capture_output=True, text=True
    ).stdout
    return out


def land_commit_log(
    repo_path: str,
    landing_dir: str,
    name: str | None = None,
    **log_kwargs,
) -> Path:
    """Write one ``git log`` snapshot into ``<landing>/commits/``.

    The file name defaults to the current HEAD sha — re-landing the same
    HEAD overwrites the identical content (idempotent), and the streaming
    file source treats an unchanged file as already-seen via its checkpoint.
    """
    text = git_log_merges(repo_path, **log_kwargs)
    if name is None:
        name = subprocess.run(
            ["git", "-C", repo_path, "rev-parse", "HEAD"],
            check=True, capture_output=True, text=True,
        ).stdout.strip()
    out_dir = Path(landing_dir) / "commits"
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / f"{name}.log"
    out.write_text(text)
    return out


def fetch_build_stats(
    ci_base_url: str,
    sha: str,
    data_file: str = "sizes.json",
    repo: str = "RIOT-OS/RIOT",
    branch: str = "master",
) -> dict | None:
    """GET ``{ci}/{repo}/{branch}/{sha}/{data_file}`` (rg.py:96-99) and wrap
    it as one SIZES_RAW document. The build timestamp is the response's
    ``Last-Modified`` header, kept timezone-correct (the reference drops the
    tz via ``parsedate`` — a bug SURVEY §1.1 flags; we parse it properly).
    Returns None when the build doesn't exist (non-200), as the reference
    does."""
    url = f"{ci_base_url}/{repo}/{branch}/{sha}/{data_file}"
    try:
        with urllib.request.urlopen(url) as resp:
            body = resp.read()
            last_mod = resp.headers.get("Last-Modified")
    except (urllib.error.URLError, OSError):
        return None
    sizes = json.loads(body)
    ts = None
    if last_mod:
        dt = email.utils.parsedate_to_datetime(last_mod)
        if dt.tzinfo is not None:  # normalize to UTC, then drop the offset:
            dt = dt.astimezone(datetime.timezone.utc)  # SIZES_RAW ts is UTC
        ts = dt.strftime("%Y-%m-%d %H:%M:%S")
    # Some CI exports carry the map at top level, some under "sizes".
    payload = sizes.get("sizes", sizes) if isinstance(sizes, dict) else sizes
    return {"ts": ts, "sha": sha, "sizes": payload}


def land_build_stats(
    ci_base_url: str,
    sha: str,
    landing_dir: str,
    **fetch_kwargs,
) -> Path | None:
    """Fetch one build's stats and land them as ``<landing>/sizes/<sha>.json``
    (one document per file — the multiLine JSON shape the stream reads)."""
    doc = fetch_build_stats(ci_base_url, sha, **fetch_kwargs)
    if doc is None:
        return None
    out_dir = Path(landing_dir) / "sizes"
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / f"{sha}.json"
    out.write_text(json.dumps(doc))
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("commits", help="land a git merge-log snapshot")
    c.add_argument("repo_path")
    c.add_argument("landing_dir")
    c.add_argument("--since-sha")
    c.add_argument("--since")
    c.add_argument("--before")
    c.add_argument("--no-merges", action="store_true",
                   help="include non-merge commits (reference always uses "
                        "--merges)")

    s = sub.add_parser("sizes", help="land one build's sizes.json")
    s.add_argument("ci_base_url")
    s.add_argument("sha")
    s.add_argument("landing_dir")
    s.add_argument("--data-file", default="sizes.json")
    s.add_argument("--repo", default="RIOT-OS/RIOT")
    s.add_argument("--branch", default="master")

    a = p.parse_args(argv)
    if a.cmd == "commits":
        out = land_commit_log(
            a.repo_path, a.landing_dir, since_sha=a.since_sha,
            since=a.since, before=a.before, merges=not a.no_merges,
        )
        print(out)
        return 0
    out = land_build_stats(
        a.ci_base_url, a.sha, a.landing_dir,
        data_file=a.data_file, repo=a.repo, branch=a.branch,
    )
    if out is None:
        print("no stats for that sha", file=sys.stderr)
        return 1
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
