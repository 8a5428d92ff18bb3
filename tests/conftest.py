from __future__ import annotations

import os
import sys

import pytest

# the checkout this file lives in, not an installed or other copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_ingestion_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
