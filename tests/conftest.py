from __future__ import annotations

import functools
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from openlmis_distributions_etl_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@functools.cache
def sf001_offset() -> int:
    """Rotation of the default sf0.01 parity slice: HEAD's short sha
    mod 7, so successive commits replay different names (0 without
    git)."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, check=True).stdout.strip()
        return int(sha, 16) % 7
    except (OSError, subprocess.CalledProcessError, ValueError):
        return 0


def pytest_report_header(config):
    return f"sf0.01 parity slice offset: {sf001_offset()} (of 7)"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()
