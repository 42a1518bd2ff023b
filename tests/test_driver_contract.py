"""Tier-2: replicate the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet, then compares row counts and
(column-name-sorted, row-sorted) values exactly — the same criterion
the driver applies at sf0.01.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [c for c in sorted(cols)], out


_TYPE_CANON = {
    # spark simpleString -> canonical
    "bigint": "int64", "int": "int32", "smallint": "int16", "tinyint": "int8",
    "double": "float64", "float": "float32", "string": "string",
    "boolean": "bool",
    # arrow str(type) -> canonical
    "int64": "int64", "int32": "int32", "int16": "int16", "int8": "int8",
    "float64": "float64", "float32": "float32", "large_string": "string",
    "bool": "bool", "decimal128(38, 0)": "HUGEINT", "hugeint": "HUGEINT",
}


def _norm_type(t: str) -> str:
    return _TYPE_CANON.get(t, t)


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, oracle_arrow, name):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = qfn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if sql is None:
        # rows-only check (non-SQL-expressible op): deterministic
        # across runs and non-degenerate output
        srows2 = [tuple(r) for r in qfn(spark, sf_dir).collect()]
        assert sorted(map(repr, srows)) == sorted(map(repr, srows2))
        assert len(srows) >= 1
        return
    arrow = oracle_arrow(name)
    dcols = arrow.column_names
    drows = [
        tuple(arrow.column(c)[i].as_py() for c in dcols)
        for i in range(arrow.num_rows)
    ]
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch {scols} vs {dcols}"
    )
    # Compare dtypes, not just values: the driver hashes TYPED values,
    # so e.g. a DuckDB HUGEINT sum vs a Spark bigint diverges even when
    # every value is numerically identical (round-1 postmortem).
    stypes = {f.name: _norm_type(str(f.dataType.simpleString())) for f in sdf.schema}
    dtypes = {
        f.name: _norm_type(str(f.type)) for f in arrow.schema
    }
    type_mism = {
        c: (stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]
    }
    assert not type_mism, f"{name}: dtype mismatch {type_mism}"
    s_cols, s_norm = _normalize(srows, scols)
    d_cols, d_norm = _normalize(drows, dcols)
    assert len(s_norm) == len(d_norm), (
        f"{name}: row count {len(s_norm)} vs {len(d_norm)}"
    )
    mism = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mism, f"{name}: first mismatches {mism[:5]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["region_id", "n_points"]


def test_every_query_has_oracle_or_justification():
    """The driver gate's no_oracle set must be exactly the queries
    with a written justification — no silent rows-only entries."""
    qs = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    justified = set(entrymod.no_oracle_reason())
    assert oracled <= qs
    assert justified == qs - oracled, (
        f"unjustified rows-only: {sorted(qs - oracled - justified)}; "
        f"stale justifications: {sorted(justified - (qs - oracled))}"
    )
    for reason in entrymod.no_oracle_reason().values():
        assert len(reason) > 40  # a real sentence, not a stub
