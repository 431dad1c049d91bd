import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from data_ingestor_spark.session import EngineConfig, get_session

    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    s = get_session(
        EngineConfig(
            app_name="tests",
            master="local[4]",
            shuffle_partitions=8,
            extra_spark_conf={"spark.sql.warehouse.dir": warehouse},
        )
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def adversarial_sf_dir(tmp_path_factory):
    """The adversarial mini-corpus (``scripts/adversarial_corpus.py``):
    the sf0.001 tables plus empty / NULL / control-character / emoji
    documents, vectors and payloads."""
    from scripts.adversarial_corpus import build

    return build(str(tmp_path_factory.mktemp("advsf")))


def spark_jobs(spark, fn, *args, **kwargs):
    """Run ``fn(*args, **kwargs)`` under a fresh job group and return
    ``(result, jobs)``: the number of Spark jobs launched in that group.

    Jobs are selected by group id, never by position in the status
    store's bounded job list; the listener bus is drained first so every
    finished job is registered."""
    import uuid

    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
