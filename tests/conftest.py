from __future__ import annotations

import os
import sys
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_DRIVER_MEMORY = "6g"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        # local[8], not local[*] (round 16, suite wall-clock): fixture
        # data is sf0.001 — 32 task slots mean 32-way scheduling churn
        # per tiny stage on a sandbox with ~0.5 ms syscall latency.
        # Measured per-file, same tests green: test_kll 81→43 s,
        # test_kn 80→66 s, test_streaming 292→176 s. Results are
        # core-count independent (partitioning-independence is
        # law-tested); override with SPARK_GRAFT_TEST_MASTER.
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"))
        .appName("fdps-tests")
        # 8, not 32 (round 16, suite wall-clock): AQE coalesces batch
        # shuffles either way, but stateful STREAMING ops don't use AQE
        # — every micro-batch pays a state-store load/commit per
        # partition, so 32 partitions made each of the ~30 streaming
        # tests 4x heavier than the fixture data justifies. No test
        # depends on the count (partitioning-independence is itself
        # law-tested); production uses session.py's 2-3x-cores sizing.
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # ~1000 tests × several jobs each on ONE session: the default
        # 1g driver heap OOMed at test ~950 of the round-15 full run
        # (AppStatusStore + listener state accumulate even with the UI
        # off — trim what it retains and give the heap room).
        .config("spark.driver.memory", _DRIVER_MEMORY)
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .getOrCreate()
    )
    # driver memory only applies when this call launches the JVM; a
    # session built earlier in the process keeps its own heap
    got = s.sparkContext.getConf().get("spark.driver.memory")
    if got != _DRIVER_MEMORY:
        warnings.warn(
            f"spark.driver.memory is {got!r}, not the requested "
            f"{_DRIVER_MEMORY!r}: the JVM already existed",
            RuntimeWarning,
        )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
