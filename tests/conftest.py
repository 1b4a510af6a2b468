from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikipedia_data_pipeline_spark import registry  # noqa: E402
from wikipedia_data_pipeline_spark.operators.sampling import (  # noqa: E402
    HASH_MOD,
    KNUTH,
    PRE_MOD,
)
from wikipedia_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wdp-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def queries():
    return registry.spark_queries()


def det_hash_py(x: int) -> int:
    """Python twin of ``operators.sampling.det_hash`` for brute-force
    reimplementations; tests import it with ``from conftest import``."""
    return ((x % PRE_MOD) * KNUTH + 12345) % HASH_MOD
