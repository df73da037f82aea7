import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basin_cli_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _keccak_line():
    from basin_cli_spark.functions.hashing import keccak_backend

    return f"keccak kernel: {keccak_backend()}"


def pytest_report_header(config):
    return _keccak_line()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    if config.get_verbosity() < 0:  # -q hides the header; say it here
        terminalreporter.write_line(_keccak_line())


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="basin_cli_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
