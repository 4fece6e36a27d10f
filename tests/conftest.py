from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commercial_rfp_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _release_pins():
    """Release pin()'d build products after every test so repeated
    operator calls can't accumulate persisted DataFrames (storage-memory
    leak) across the session."""
    yield
    from commercial_rfp_data_pipeline_spark.io import release_pinned

    release_pinned()
