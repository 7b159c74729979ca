from __future__ import annotations

import glob
import os
import tempfile

import pytest

from etl_visualization_of_cryptocurrency_trading_data_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session", autouse=True)
def no_leaked_replay_dirs():
    """Every *_stream_replay owns a ``<name>_replay_*`` temp root and must
    delete it on every exit path; fail the session if any is left."""
    pattern = os.path.join(tempfile.gettempdir(), "*_replay_*")
    before = set(glob.glob(pattern))
    yield
    leaked = sorted(set(glob.glob(pattern)) - before)
    assert not leaked, f"replay temp dirs left behind: {leaked}"
