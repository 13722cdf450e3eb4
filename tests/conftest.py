from __future__ import annotations

import pytest

from prod_data_pipeline_spark.session import default_parallelism, get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=default_parallelism(), shuffle_partitions=8)
    yield s
    s.stop()
