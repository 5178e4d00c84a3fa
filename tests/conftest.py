from __future__ import annotations

import pytest

from complex_data_pipeline_with_joins_and_multi_table_operations_spark import get_spark
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
    Catalog,
)

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long property run; deselect with -m 'not slow'"
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cat(spark):
    return Catalog(spark, SF_DIR)
