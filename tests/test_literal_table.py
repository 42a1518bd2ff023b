"""Driver-literal tables (sources.synth.literal_table): an in-memory
LocalTableScan with the exact DDL schema, never a Python RDD scan.

A ``createDataFrame(list)`` table plans ``Scan ExistingRDD`` over a
Python RDD, and every action over it launches a Python worker task per
slice.  Nothing fails when a literal lands on that path: pandas input
silently falls back to it when Arrow conversion fails
(``spark.sql.execution.arrow.pyspark.fallback.enabled`` is on by
default) or the frame is empty.  So the plan itself is pinned here."""

from __future__ import annotations

import math

import duckdb
import pytest

from transformio_spark.sources.synth import literal_table

DDL = "i int, b bigint, d double, s string, x binary"
ROWS = [
    (3, 2**40, 0.1, "c", b"\x00\xff"),
    (1, -(2**62), -2.5e-300, "", bytearray(b"ab")),
    (2, 0, 1e300, "été", b""),
    (-7, 7, -0.0, "z", b"\x01"),
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_literal_table_is_local_table_scan(spark):
    plan = _plan(literal_table(spark, ROWS, DDL))
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_literal_table_types_are_exact(spark):
    df = literal_table(spark, ROWS, DDL)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("i", "int"), ("b", "bigint"), ("d", "double"),
        ("s", "string"), ("x", "binary"),
    ]


def test_literal_table_keeps_values_and_row_order(spark):
    got = [tuple(r) for r in literal_table(spark, ROWS, DDL).collect()]
    want = [(i, b, d, s, bytearray(x)) for i, b, d, s, x in ROWS]
    assert got == want
    # bit-exact doubles, including the sign of zero
    assert [repr(r[2]) for r in got] == [repr(r[2]) for r in ROWS]


def test_literal_table_keeps_nan_and_null_apart(spark):
    got = literal_table(
        spark, [(1, float("nan")), (None, None)], "i int, d double"
    ).collect()
    assert math.isnan(got[0].d) and got[0].i == 1
    assert got[1].d is None and got[1].i is None


def test_literal_table_rejects_overflow(spark):
    with pytest.raises(Exception, match="(?i)overflow|out of bounds|integer"):
        literal_table(spark, [(2**31,)], "i int").collect()


def test_literal_table_empty_is_local_and_keeps_schema(spark):
    df = literal_table(spark, [], "center_id int, cell bigint")
    assert "LocalTableScan" in _plan(df), _plan(df)
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<center_id:int,cell:bigint>"


def test_model_accuracy_single_task_fold_matches_oracle(spark, sf_dir):
    """The order-sensitive double fold of model_accuracy reads the
    literal GCP table through coalesce(1): one task, GCP row order,
    the same fold as the oracle's sequential VALUES scan."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["model_accuracy"](spark, sf_dir)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "Coalesce" in plan, plan
    assert "ExistingRDD" not in plan, plan
    got = [r.asDict() for r in df.collect()]
    con = duckdb.connect()
    cur = con.execute(entrymod.oracle_sql()["model_accuracy"])
    cols = [c[0] for c in cur.description]
    want = [dict(zip(cols, r)) for r in cur.fetchall()]
    assert got == want
