"""Every oracle_sql() entry must parse and run on DuckDB against the
registered views — catches dialect drift without needing Spark."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_oracle_sql_runs(oracle_arrow, name):
    assert oracle_arrow(name).num_rows >= 1


def test_every_oracle_has_a_query():
    qs = set(entrymod.queries().keys())
    for name in entrymod.oracle_sql():
        assert name in qs, f"oracle {name} has no matching query"


def test_oracle_literal_fit_runs_once_per_process(monkeypatch):
    """oracle_sql() runs auto_choose_model's leave-one-out refinement
    loops on its first call in a process only: one auto_drop_models
    run per candidate (poly1/2/3, TIN), the same texts after that."""
    from transformio_spark.kernels import accuracy
    from transformio_spark.plans import oracles

    calls = []
    real = accuracy.auto_drop_models

    def counted(*args, **kwargs):
        calls.append(type(args[0]).__name__)
        return real(*args, **kwargs)

    monkeypatch.setattr(accuracy, "auto_drop_models", counted)
    oracles.auto_choose_model.cache_clear()
    first = entrymod.oracle_sql()
    second = entrymod.oracle_sql()
    assert len(calls) == 4, calls
    assert first == second
