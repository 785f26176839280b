from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from kittispark import get_spark

    spark = get_spark("kittispark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def py4j_commands(spark):
    """Counts the py4j commands the driver sends to the JVM while the
    test runs (`.n`): every call, field read, object release and
    reflection lookup is one round-trip on the gateway."""
    import types

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counter = types.SimpleNamespace(n=0)

    def counting(*args, **kwargs):
        counter.n += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield counter
    finally:
        client.send_command = send
