import os
import sys
from pathlib import Path

import pytest

# make sure worker python == driver python
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

# the reference's tests/data, from a dedoc checkout next to this repository
# unless DEDOC_REFERENCE_DATA names another directory
REFERENCE_DATA = Path(
    os.environ.get(
        "DEDOC_REFERENCE_DATA", Path(__file__).resolve().parents[2] / "reference" / "tests" / "data"
    )
)


@pytest.fixture
def reference_file():
    """``reference_file("scanned/example.jpeg")`` -> path of a file (or,
    for a corpus sweep, a directory) in the reference corpus; the calling
    test is skipped when that path is missing, and runs (and can fail)
    when it is present."""

    def get(relpath: str) -> Path:
        path = REFERENCE_DATA / relpath
        if not path.exists():
            pytest.skip(f"reference corpus path not available: {relpath}")
        return path

    return get


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dedoc_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()
