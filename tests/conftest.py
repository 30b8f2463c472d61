from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mgo_liveagent_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.ansi.enabled": "true"},
    )
    yield s
    s.stop()


@pytest.fixture()
def counting_gateway(tmp_path):
    """A ``StubGateway`` that appends a line to a file per call, so a test
    can count the calls Spark's Python workers made. Returns
    ``(gateway, calls)``; ``calls()`` reads the count so far."""
    from mgo_liveagent_data_pipeline_spark.enrich.gateway import StubGateway

    log = str(tmp_path / "gateway_calls.log")
    stub = StubGateway()

    def gateway(prompt):
        with open(log, "a") as f:
            f.write("call\n")
        return stub(prompt)

    def calls():
        if not os.path.exists(log):
            return 0
        with open(log) as f:
            return sum(1 for _ in f)

    return gateway, calls
