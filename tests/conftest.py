import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from podcast_crawler_spark.operators.frontier import engine_conf


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("podcast_crawler_spark_tests")
        .config(map=engine_conf(4))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture
def cache_manager(spark):
    """The session's CacheManager, emptied first, so a test can assert
    ``cache_manager.isEmpty()`` after the code under test to show that
    code left no cache entry pinned in the session."""
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager()
