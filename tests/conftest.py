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
    the yielded object's ``n``; ``of(build)`` is the settled count of one
    ``build()`` call."""
    import gc
    import threading
    import time
    import types

    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    state = types.SimpleNamespace(n=0)
    lock = threading.Lock()

    def counting(*args, **kwargs):
        with lock:
            state.n += 1
        return original(*args, **kwargs)

    def settle() -> None:
        # collect garbage and wait until py4j's finalizer thread has sent
        # the resulting proxy frees; it drains its queue asynchronously, up
        # to a second later, so undrained frees would land in the next count
        gc.collect()
        deadline = time.monotonic() + 10
        while getattr(client, "finalizer_deque", None) and time.monotonic() < deadline:
            time.sleep(0.01)

    def of(build) -> int:
        # settle before and after: frees of earlier garbage stay out, the
        # build's own frees stay in
        settle()
        before = state.n
        build()
        settle()
        return state.n - before

    state.of = of
    monkeypatch.setattr(client, "send_command", counting)
    yield state


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group, body)``: the number of Spark jobs ``body()``
    launched, counted from the status tracker under a fresh job group."""

    def count(group: str, body) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            body()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def pruned_routes(spark):
    """Route helpers for ``bm25_search_pruned``.

    ``route_of(result)`` names the route that built a result, from its plan:
    "driver" (a local relation), "doc_aligned" (``MapInPandas``) or
    "shard_group" (``FlatMapGroupsInPandas``).

    ``above_cut()`` is a context manager: calls made inside it count every
    batch as above the driver route's cut, so they run distributed. The
    module's cut is restored on exit.

    ``each(index, pairs, k)`` yields (route, result) for every route
    ``index`` has: the pairs on the driver route, then the same pairs above
    the cut on the doc-aligned route (doc-aligned indexes only) and on the
    shard-group route. Queries go in as a DataFrame; each result's route is
    checked."""
    import contextlib
    import dataclasses
    import types

    import pandas as pd

    from rustserini_spark.operators import search

    def route_of(result) -> str:
        # the optimized logical plan's nodes: a cached relation is a leaf
        # there, so the build's own Python stages do not show
        names, todo = [], [result._jdf.queryExecution().optimizedPlan()]
        while todo:
            node = todo.pop()
            names.append(node.nodeName())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        if names == ["LocalRelation"]:
            return "driver"
        if "FlatMapGroupsInPandas" in names:
            return "shard_group"
        return "doc_aligned" if "MapInPandas" in names else "other"

    @contextlib.contextmanager
    def above_cut():
        saved = search.DRIVER_ROUTE_MAX_PAIRS
        search.DRIVER_ROUTE_MAX_PAIRS = -1
        try:
            yield
        finally:
            search.DRIVER_ROUTE_MAX_PAIRS = saved

    def each(index, pairs, k: int):
        runs = [("driver", index)]
        if index.meta.get("doc_aligned"):
            runs.append(("doc_aligned", index))
        grouped = {key: v for key, v in index.meta.items() if key != "doc_aligned"}
        runs.append(("shard_group", dataclasses.replace(index, meta=grouped)))
        qdf = spark.createDataFrame(pd.DataFrame(pairs, columns=["qid", "query"]))
        for route, idx in runs:
            with above_cut() if route != "driver" else contextlib.nullcontext():
                result = search.bm25_search_pruned(idx, qdf, k=k)
            assert route_of(result) == route, route
            yield route, result

    return types.SimpleNamespace(route_of=route_of, above_cut=above_cut, each=each)
