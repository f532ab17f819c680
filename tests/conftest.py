import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from valentinus_spark.session import CONF_WAREHOUSE, get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    s = get_spark("valentinus-tests", master=f"local[{cpus}]")
    s.sparkContext.setLogLevel("ERROR")
    # session.py sizes shuffle.partitions from SPARK_GRAFT_CPUS (32 by
    # default — the bench/driver contract), but the TEST session runs
    # local[4]: 32-partition shuffles schedule 8 task waves per stage on
    # 4 cores, pure scheduling overhead on row-count-tiny test frames.
    # Match the width to the test master (runtime-settable SQL conf;
    # AQE behavior is identical, just fewer empty tasks).
    s.conf.set("spark.sql.shuffle.partitions", cpus)
    s.conf.set(CONF_WAREHOUSE, str(tmp_path_factory.mktemp("warehouse")))
    yield s


@pytest.fixture()
def fresh_warehouse(spark, tmp_path):
    """Point the engine at an empty warehouse for catalog-sensitive tests."""
    old = spark.conf.get(CONF_WAREHOUSE)
    spark.conf.set(CONF_WAREHOUSE, str(tmp_path / "wh"))
    yield str(tmp_path / "wh")
    spark.conf.set(CONF_WAREHOUSE, old)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REFERENCE_CSV = "/root/reference/data/Scraped_Car_Review_tesla.csv"
if not os.path.exists(REFERENCE_CSV):
    # no reference checkout: a synthetic CSV in its column layout
    # (FIXTURES.md F1), which tests the scenario but not the reference's data
    REFERENCE_CSV = os.path.join(os.path.dirname(__file__), "data", "car_reviews_sample.csv")
