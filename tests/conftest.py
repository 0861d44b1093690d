import os
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    # a per-session warehouse: managed-table locations left behind by an
    # aborted earlier run must not collide with this run's tables
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.warehouse.dir", str(warehouse))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("datacompy-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def jobs(spark, fn):
    """The number of Spark jobs ``fn()`` ran, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before)


@contextmanager
def shuffle_partitions(spark, n):
    """Run the block with the session's ``spark.sql.shuffle.partitions`` set
    to ``n``, restoring the old value after. Build AND collect inside the
    block: operators read the count when they build the plan, AQE when it
    runs."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")
