import contextlib
import uuid

import pytest

from sql_flow_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("sql-flow-spark-tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_ids(spark):
    """Context-manager factory: ``with job_ids() as ids:`` runs the block
    under a unique Spark job group; on exit ``ids`` holds the ids of the
    jobs the block ran, from the status tracker once the listener bus
    has delivered their events. Blocks nest: an inner block's jobs are
    its own, and the outer group resumes on exit."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run():
        group = f"test-{uuid.uuid4().hex}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        ids = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def forced_distributed(monkeypatch):
    """Context-manager factory for the forced-distributed lane: inside
    ``with forced_distributed():`` the bounded-trainer cap
    (localdf.DRIVER_CAP) is 0, so every bounded_or_distributed call
    takes its distributed path, and a driver twin call fails the test.
    The yielded list records one entry per distributed path taken; the
    block must take at least one."""
    from sql_flow_spark import localdf
    from sql_flow_spark.functions import bpe, similarity
    from sql_flow_spark.streaming import ann_index

    real = localdf.bounded_or_distributed

    @contextlib.contextmanager
    def force():
        runs = []

        def no_twin(probed):
            raise AssertionError("driver twin ran with the cap at 0")

        def spy(df, twin, dist):
            def counted():
                runs.append(dist)
                return dist()

            return real(df, no_twin, counted)

        with monkeypatch.context() as m:
            m.setattr(localdf, "DRIVER_CAP", 0)
            for mod in (localdf, similarity, bpe, ann_index):
                m.setattr(mod, "bounded_or_distributed", spy)
            yield runs
        assert runs, "no bounded_or_distributed call took the distributed path"

    return force
