from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest belongs to, whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llamadb_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("llamadb-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
