from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from etl_cli_spark import get_spark

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = get_spark(app_name="perfbench_tests", master="local[2]",
                  extra_conf={"spark.local.dir": tmp, "spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
