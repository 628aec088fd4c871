import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def spark_jobs(spark, group, call):
    """(Spark jobs ``call()`` runs, its result); the jobs are counted under
    the fresh job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="session")
def spark():
    from ml4logs_spark.session import get_spark

    s = get_spark(app_name="ml4logs_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def turns(spark):
    from ml4logs_spark.datagen import transcripts as tx

    return tx.transcripts(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def turns_pdf(turns):
    return turns.toPandas()
