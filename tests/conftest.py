from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wage_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="wage-etl-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


def next_job_id(spark) -> int:
    """The id the session's next Spark job will get: the difference of two
    reads is the number of jobs run in between."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
