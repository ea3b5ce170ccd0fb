from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "clears_registry: empties the session staging registry"
    )


def pytest_collection_modifyitems(items):
    # a test that empties the registry would make every later test re-stage
    # its frames and feeds, so those tests run after all the others
    items.sort(key=lambda item: item.get_closest_marker("clears_registry") is not None)


@pytest.fixture(scope="session")
def spark():
    from lets_talk_cdc_change_feed_playground_spark import get_spark
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import clear_shared

    spark = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    # release persisted frames, broadcasts and the session scratch root
    clear_shared()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
