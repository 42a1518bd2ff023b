"""Shared pytest fixtures: a session-scoped local SparkSession and the
reference modules (tests using the latter carry
``ref_loader.requires_reference``)."""

from __future__ import annotations

import os
import sys

import pytest
from ref_loader import load_reference_modules

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from transformio_spark.plans.session import build_session

    s = build_session(app_name="transformio-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def ref_transforms():
    return load_reference_modules()[0]


@pytest.fixture(scope="session")
def ref_accuracy():
    return load_reference_modules()[1]


@pytest.fixture(scope="session")
def ref_vector():
    return load_reference_modules()[2]
