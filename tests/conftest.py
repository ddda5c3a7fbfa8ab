from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_cookbook_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

# Every test stays collected; the slowest tier (marked @pytest.mark.full:
# multi-minute end-to-end example pipelines and streaming batteries whose
# assertions are intrinsically wall-clock-heavy, e.g. run-twice
# byte-stability and full restart/maintenance cycles) is skipped by
# default and runs only under SPARK_GRAFT_FULL_TESTS=1.
FULL_PROFILE = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full: slow end-to-end tier; skipped unless SPARK_GRAFT_FULL_TESTS=1 "
        "(fast default profile keeps the driver's pytest gate inside its "
        "time window — VERDICT r11 item 1)",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_PROFILE:
        return
    skip_full = pytest.mark.skip(
        reason="full-profile tier (set SPARK_GRAFT_FULL_TESTS=1); "
        "run at every round close-out"
    )
    for item in items:
        if "full" in item.keywords:
            item.add_marker(skip_full)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
