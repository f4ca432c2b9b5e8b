import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reader_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # r13 (VERDICT item 2, the pytest-gate wall): the suite's e2e
    # tests are driver/control-plane bound — more cores do nothing
    # (test_graph.py interleaved A/B: local[8] 238 s vs local[16]
    # 239 s), but AQE's per-job adaptive re-planning round-trips on
    # hundreds of tiny jobs are a real tax: AQE off took the same
    # file to 150 s (1.58x). Tests verify operator LOGIC and their
    # assertions are AQE-independent; AQE-enabled end-to-end
    # execution of every catalog query is still exercised by the
    # oracle gate (scripts/check.py uses the production session
    # factory) and by bench.py. Set SPARK_GRAFT_TEST_AQE=1 to run
    # the suite under AQE again. Cores and shuffle partitions follow
    # SPARK_GRAFT_CPUS (session.DEFAULT_CPUS), like every other entry
    # point.
    extra = {}
    if os.environ.get("SPARK_GRAFT_TEST_AQE", "0") == "0":
        extra["spark.sql.adaptive.enabled"] = "false"
    s = get_spark("tests", extra_conf=extra)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
