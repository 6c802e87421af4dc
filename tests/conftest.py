import pytest
from pyspark.sql import SparkSession

from knowledge_graph_builder_spark.session import WORKER_DAEMON


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kgb-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # mirror session.get_spark: bucketed scans must not be demoted
        # (the shuffle-free kernel over a bucketed table depends on
        # one-partition-per-bucket)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.ui.enabled", "false")
        # Python workers fork from the package's daemon, as under get_spark
        .config(map=WORKER_DAEMON)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
