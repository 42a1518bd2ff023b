"""Shared pytest fixtures: a session-scoped local SparkSession, one
DuckDB connection with each oracle's result evaluated once, and the
reference modules (tests using the latter carry
``ref_loader.requires_reference``)."""

from __future__ import annotations

import functools
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
def oracle_arrow(sf_dir):
    """``oracle_arrow(name)``: the Arrow table of ``oracle_sql()[name]``
    on one DuckDB connection with a view per source table over the
    parquet files the queries read, evaluated once per test session
    however many tests read it."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    @functools.cache
    def run(name: str):
        return con.execute(entrymod.oracle_sql()[name]).arrow()

    yield run
    con.close()


@pytest.fixture(scope="session")
def ref_transforms():
    return load_reference_modules()[0]


@pytest.fixture(scope="session")
def ref_accuracy():
    return load_reference_modules()[1]


@pytest.fixture(scope="session")
def ref_vector():
    return load_reference_modules()[2]
