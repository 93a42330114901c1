import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = "/root/testdata/sf0.001"

# session.py's default driver heap is three quarters of physical RAM; 6g
# holds the whole suite and leaves room for the test subprocesses' JVMs
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from pdf_parser_benchmark_spark.session import get_spark

    s = get_spark(
        app_name="pytest",
        cpus=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST
