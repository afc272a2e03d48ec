import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from foundry_es_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    # None vs NaN in a frame comparison is a FutureWarning today and an
    # assertion failure in a later pandas: fail on it now
    config.addinivalue_line(
        "filterwarnings", "error:Mismatched null-like values:FutureWarning"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        app_name="foundry-es-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "table")
