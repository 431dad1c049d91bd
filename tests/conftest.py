import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.harness import spark_jobs  # noqa: E402,F401  (tests import it from here)

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
