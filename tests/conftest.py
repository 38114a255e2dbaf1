import itertools
import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from wikdict_gen_spark.session import get_spark

    s = get_spark(parallelism=4, app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Seeded corpus shared by all pipeline tests."""
    from wikdict_gen_spark.fixtures import build_fixture

    d = tmp_path_factory.mktemp("corpus")
    build_fixture(d, n_concepts=80, seed=42)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def jobs_started(spark):
    """jobs_started(fn) -> (ids of the Spark jobs fn() started, fn's result).

    fn runs under a fresh job group; the listener bus is drained before the
    status tracker is asked, so a job counted late is not missed."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"jobs-started-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group)), result

    return run
