from __future__ import annotations

import contextlib
import itertools

import pytest

from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY
from sparkstreamingrealtimedatawithkafka_spark.session import build_session
from sparkstreamingrealtimedatawithkafka_spark.sources.registry import TABLES, load_table

SF_DIR = "/root/testdata/sf0.001"


# The test session's build arguments; tests that call ``build_session``
# again reuse them so the shared session keeps its confs.
SESSION_KW = dict(
    app_name="ssk-tests",
    master="local[4]",
    shuffle_partitions=4,
    extra={"spark.driver.memory": "4g"},
)


@pytest.fixture(scope="session")
def spark():
    spark = build_session(**SESSION_KW)
    yield spark
    spark.stop()


def warm_up(spark) -> None:
    """Do up front the once-per-process work that would otherwise launch
    jobs in whichever test comes first: the first load of a fixture table
    runs a footer job to infer its schema (sources/registry.py), and
    ``join_bucketed_colocated`` writes its bucketed tables once per sf-dir
    (plans/connectors.py). A job count then does not depend on the tests
    that ran before it."""
    for name in TABLES:
        load_table(spark, SF_DIR, name)
    REGISTRY["join_bucketed_colocated"].fn(spark, SF_DIR)


@pytest.fixture(scope="session")
def warm(spark):
    warm_up(spark)


_groups = itertools.count()


@contextlib.contextmanager
def job_count(spark):
    """Count the Spark jobs launched inside the block, in a job group of
    their own: yields a function that returns the group's count so far."""
    sc = spark.sparkContext
    group = f"job-count-{next(_groups)}"
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def count() -> int:
        bus.waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        yield count
    finally:
        sc._jsc.clearJobGroup()


def cc_on_both_paths(op, edges, **kw) -> set[tuple]:
    """``op``'s (node, label) rows, run once with small graphs finishing on
    the driver and once with that finish off (``DRIVER_MAX_EDGES`` 0), so
    that every graph takes the distributed rounds. Asserts that both runs
    return the same schema and rows, the first as a local table, and returns
    the rows."""
    from sparkstreamingrealtimedatawithkafka_spark.operators import graph

    got = {}
    for path in ("driver", "distributed"):
        with pytest.MonkeyPatch.context() as mp:
            if path == "distributed":
                mp.setattr(graph, "DRIVER_MAX_EDGES", 0)
            df = op(edges, **kw)
            rows = {tuple(r) for r in df.collect()}
            plan = df._jdf.queryExecution().executedPlan().toString()
            # Spark plans an empty result as an empty local table either way.
            assert plan.startswith("LocalTableScan") == (path == "driver" or not rows), plan
            got[path] = df.schema, rows
    assert got["driver"] == got["distributed"], op.__name__
    return got["driver"][1]
