from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fa_spark.pipeline import default_session

    s = default_session(app="fa-spark-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from fa_spark.gen_fixtures import write_pages

    p = tmp_path_factory.mktemp("fixtures") / "pages.parquet"
    write_pages(str(p), 800)
    return str(p)


@pytest.fixture(scope="session")
def pages_df(spark, pages_path):
    return spark.read.parquet(pages_path)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def python_rows(spark, action) -> int:
    """Run ``action()`` and return the rows that entered ArrowEvalPython
    nodes (Arrow Python UDFs) across every SQL execution it triggered,
    read from the session's SQL status store. A node that evaluates its
    rows again — a recomputed or rebuilt cache — counts them again."""
    jss = spark._jsparkSession
    store = jss.sharedState().statusStore()
    bus = jss.sparkContext().listenerBus()
    bus.waitUntilEmpty()
    before = max((e.executionId() for e in _scala_iter(store.executionsList())),
                 default=-1)
    action()
    bus.waitUntilEmpty()
    total = 0
    for ex in _scala_iter(store.executionsList()):
        eid = ex.executionId()
        if eid <= before:
            continue
        accs = {
            m.accumulatorId()
            for node in _scala_iter(store.planGraph(eid).allNodes())
            if node.name() == "ArrowEvalPython"
            for m in _scala_iter(node.metrics())
            if m.name() == "number of output rows"
        }
        for kv in _scala_iter(store.executionMetrics(eid)):
            if kv._1() in accs:
                total += int(kv._2().replace(",", ""))
    return total
