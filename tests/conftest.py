import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("watertower-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_index_root():
    d = tempfile.mkdtemp(prefix="wt_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def distributed(monkeypatch):
    """Every query through the distributed exchange: no kernel input is
    small enough to score in the driver (``_LOCAL_INPUT_BYTES``), which
    the small test indexes otherwise always are."""
    from watertower_spark.operators import search

    monkeypatch.setattr(search, "_LOCAL_INPUT_BYTES", -1)
