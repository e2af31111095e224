from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from run import boot, stop

    s = boot(str(tmp_path_factory.mktemp("spark")), cores=2)
    yield s
    stop(s)
