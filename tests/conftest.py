from __future__ import annotations

import os
import subprocess
import sys

import pytest

# the checkout this file lives in, not an installed or other copy
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_data_ingestion_spark import catalog
from etl_data_ingestion_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def empty_dir():
    """Every base table with 0 rows and the sf0.001 schema; written by
    tools/gen_empty.py when missing."""
    path = os.path.join(REPO, ".scaledata", "sf_empty")
    if not os.path.isdir(path):
        subprocess.run([sys.executable, os.path.join(REPO, "tools", "gen_empty.py"), path], check=True)
    return path


@pytest.fixture(autouse=True)
def release_pins():
    """Each test body runs inside ``catalog.query_scope()``: what the
    builders it calls directly pin through ``catalog.cached`` and
    ``catalog.checkpointed`` is released when the test ends, not
    whenever Spark's context cleaner collects it. Each released
    checkpoint logs one ``RDD.unpersist`` WARN."""
    with catalog.query_scope():
        yield


@pytest.fixture
def no_persisted(spark):
    """The shared context with nothing persisted. Builders called
    outside a test body (module- and session-scoped fixtures) leave
    their persists and checkpoints behind, and Spark's context cleaner
    unpersists those whenever the JVM collects them; a test that counts
    persisted RDDs starts from none, so that no such drop lands in its
    count."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
