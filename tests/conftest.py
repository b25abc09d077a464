import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_SF = "/root/testdata/sf0.001"
CORRECTNESS_SF = "/root/testdata/sf0.01"
# the jobs/ scripts of THIS checkout (they import as top-level modules)
JOBS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


@pytest.fixture(scope="session")
def spark():
    from kube_etl_spark.session import get_spark

    # SPARK_GRAFT_TEST_CPUS / SPARK_GRAFT_TEST_PARTITIONS exist for the
    # partition-invariance sweep: re-running the whole parity suite at
    # adversarial parallelism (e.g. cpus=3, partitions=5) proves no
    # registered query's result depends on physical partitioning — the
    # cluster-size-independence claim, tested suite-wide rather than
    # only in the targeted hypothesis properties.
    s = get_spark(
        "kube-etl-spark-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_PARTITIONS", "8")),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    # Parity tests default to the smoke sf for speed; run with
    # SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 before committing a
    # milestone to mirror the driver's correctness gate exactly.
    return os.environ.get("SPARK_GRAFT_TEST_SF", SMOKE_SF)
