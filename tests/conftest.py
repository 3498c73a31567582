import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rustserini_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rustserini-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture
def py4j_round_trips(spark, monkeypatch):
    """Counts py4j commands sent from this process to the JVM while the test
    runs (calls, proxy frees from the finalizer thread included); the
    gateway client's ``send_command`` is restored afterwards. The count is
    the yielded object's ``n``."""
    import threading
    import types

    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    state = types.SimpleNamespace(n=0)
    lock = threading.Lock()

    def counting(*args, **kwargs):
        with lock:
            state.n += 1
        return original(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    yield state
