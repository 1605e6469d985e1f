from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# Round-12 fast tier (VERDICT r11 ask #2): the full suite runs ~51 min on
# this host, which overflows the round driver's verify window (VERIFY_r11
# shows an all-dots tail truncated at ~81%). By default the suites below —
# 42 of those 51 minutes, measured per-file from a full `--durations=0`
# run — are DESELECTED so `python -m pytest tests/ -x -q` completes in
# under 10 minutes; they are not lower-value, just not per-driver-window
# material: oracle-parity breadth duplicates the driver's own DuckDB
# correctness gate, the plan-shape/property suites assert static plan
# invariants, and the streaming loops are heavyweight e2e. Run EVERYTHING
# with SPARK_GRAFT_FULL_TESTS=1 (the builder's close-out gate). Explicitly
# naming any .py file (or a file.py::test node id) on the command line
# disables tiering for that run.
SLOW_FILES = {
    "test_oracle_parity.py",     # 1058 s
    "test_plans.py",             # 488 s
    "test_properties.py",        # 192 s
    "test_streaming_loop.py",    # 128 s
    "test_stateful_streaming.py",# 119 s
    "test_graph_stats_privacy.py",  # 116 s
    "test_plans_round9.py",      # 82 s
    "test_round11b_properties.py",  # 82 s
    "test_plans_round11b.py",    # 60 s
    "test_streaming_lag.py",     # 54 s
    "test_anomaly.py",           # 47 s
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    if any(str(a).split("::")[0].endswith(".py") for a in config.args):
        return  # explicit file or node-id targets always run in full
    deselected = [
        i
        for i in items
        if os.path.basename(str(i.fspath)) in SLOW_FILES
        or i.get_closest_marker("slow")
    ]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = [i for i in items if i not in deselected]


@pytest.fixture(scope="session")
def spark():
    from phoebe_spark.session import get_spark

    s = get_spark("phoebe-tests", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("PHOEBE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
