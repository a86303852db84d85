from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tweets_spark_top_10_spark.session import get_spark  # noqa: E402
from tweets_spark_top_10_spark.streaming.sinks import start_query  # noqa: E402

SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF


def run_to_memory(stream, name: str, output_mode: str = "append"):
    """Drain a bounded stream into the in-memory table ``name`` and return
    the query; callers ``awaitTermination`` and then read
    ``spark.table(name)``.  The memory sink collects to the driver, so
    this is for tests only."""
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    return start_query(stream.sparkSession, writer)
