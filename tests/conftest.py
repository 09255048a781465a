from __future__ import annotations

import gc
import sys
import threading
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from airbnb_cdc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    s.sparkContext.setLogLevel("WARN")
    yield s


@contextmanager
def _counting_py4j_calls():
    from py4j.clientserver import ClientServerConnection

    counter = {"calls": 0}
    send = ClientServerConnection.send_command
    # only this thread's calls: JVM callbacks (foreachBatch, listeners)
    # run on other threads and are not the block's work
    me = threading.get_ident()

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            counter["calls"] += 1
        return send(self, *args, **kwargs)

    gc.collect()  # earlier garbage must not release JVM objects in here
    ClientServerConnection.send_command = counted
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send


@pytest.fixture
def py4j_calls():
    """Counts the py4j round trips (Python→JVM commands) the calling
    thread makes inside a block — a plan-construction cost guard that is
    counted, not timed::

        with py4j_calls() as c:
            build_plan()
        assert c["calls"] <= budget
    """
    return _counting_py4j_calls


@contextmanager
def _counting_spark_jobs(spark):
    # the DAGScheduler's id counter: every job, the skipped included
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    counter = {"jobs": 0}
    first = int(dag.nextJobId())
    try:
        yield counter
    finally:
        counter["jobs"] = int(dag.nextJobId()) - first


@pytest.fixture
def spark_jobs():
    """Counts the Spark jobs submitted inside a block, a counted (not
    timed) plan guard::

        with spark_jobs(spark) as c:
            table.merge(wave)
        assert c["jobs"] == 1
    """
    return _counting_spark_jobs


# The slow tier (see pytest.ini): the Hypothesis oracle sweep, scale
# rehearsals, the IVF-PQ compaction-crash matrix and the streaming
# suites, all left out of Tier-1 for time. The CDC core
# (merge table, change feed, pipeline e2e, matview) runs in Tier-1, and
# tests/test_registry_oracle.py checks every registry query against its
# DuckDB oracle there. Centralized here so a future heavy module is one
# line, not a per-file marker hunt.
_SLOW_MODULES = {
    "test_oracle_differential",  # 1681 s Hypothesis sweep
    "test_scale_smoke",          # 524 s — 200k-row scale rehearsals
    "test_ivf_pq_index",         # 99 s — compaction-crash matrix
    "test_streaming_dedup",
    "test_streaming_window",
    "test_streaming_docs",
    "test_streaming_sketch",
    "test_decontam_streaming",
    "test_drift_streaming",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.nodeid.split("::", 1)[0].rsplit("/", 1)[-1]
        if mod.endswith(".py"):
            mod = mod[:-3]
        if mod in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)
