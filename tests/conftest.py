from __future__ import annotations

import json
import os
import subprocess
import time

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from real_time_recommendation_system_with_feature_store_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "e2e: full-pipeline MovieLens reproduction (slower)"
    )
    config.addinivalue_line(
        "markers",
        "slow: scale-growth measurements over ×8-replicated sf0.1 inputs "
        "(tests/test_scale_paths.py) — minutes each; the 100 TB growth "
        "claims' local proxy.",
    )
    config.addinivalue_line(
        "markers",
        "heavy: exhaustive certification tier excluded from the default "
        "run by addopts (randomized-history IVM proofs, streaming retrain/"
        "crash/tombstone lifecycles, every-query bare-session & "
        "no-cartesian sweeps — ~18 min). The default tier plus the DuckDB "
        "oracle already pin the same semantics pointwise; run -m heavy "
        "when touching operators/ivm.py, streaming/pipeline.py, or "
        "session defaults.",
    )
    config.addinivalue_line(
        "markers",
        "foldtwin: catalog entries / lifecycle tests that synchronously "
        "drive real streaming-sink epoch writes. At the sf0.01 oracle "
        "scale they cost ~1 min combined (measured r13: full suite 41:40 "
        "vs 40:52 without), so the marker's value is SELECTION — run "
        "-m foldtwin while iterating on sink code, or skip the tier when "
        "it cannot be affected — not bulk wall-clock savings.",
    )


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_T0 = pytest.StashKey[float]()
_HEAVY = pytest.StashKey[bool]()


def pytest_sessionstart(session):
    session.stash[_T0] = time.monotonic()


def pytest_collection_finish(session):
    session.stash[_HEAVY] = any(item.get_closest_marker("heavy") for item in session.items)


def _git(*args):
    try:
        return subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def pytest_sessionfinish(session, exitstatus):
    """The heavy tier is certified by an artifact: a run that selects any
    heavy test writes HEAVY_TIER.json at the repo root (commit, outcome
    counts, wall time, marker expression)."""
    if not session.stash.get(_HEAVY, False):
        return
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    stats = reporter.stats if reporter else {}
    status = _git("status", "--porcelain", "--untracked-files=no")
    record = {
        "git_sha": _git("rev-parse", "HEAD"),
        "git_dirty": None if status is None else bool(status),
        "passed": len(stats.get("passed", [])),
        "failed": len(stats.get("failed", [])),
        "errors": len(stats.get("error", [])),
        "skipped": len(stats.get("skipped", [])),
        "duration_s": round(time.monotonic() - session.stash[_T0], 1),
        "markexpr": session.config.option.markexpr,
        "args": session.config.args,
    }
    with open(os.path.join(REPO, "HEAVY_TIER.json"), "w") as fh:
        json.dump(record, fh, indent=2)
        fh.write("\n")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    return load_tables(spark, SF_DIR)
