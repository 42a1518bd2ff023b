"""Chain->SQL-text compiler (operators/compiler.py): compiled plans
must be pure codegen for analytic legs, bit-identical to the
pandas-UDF kernel route, and fall back to one UDF crossing per
TIN/pyproj leg."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from transformio_spark.fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
from transformio_spark.kernels import transforms as kt
from transformio_spark.operators import compiler, udfs


@pytest.fixture(scope="module")
def grid(spark):
    rows = [(float(x), float(y)) for x in range(-170, 171, 20)
            for y in range(-80, 81, 20)]
    return spark.createDataFrame(rows, "x double, y double").cache()


def _analytic_chain():
    poly = kt.Polynomial(order=2).fit(
        [p[0] for p in CHINA22_IMPOINTS], [p[1] for p in CHINA22_IMPOINTS],
        [p[0] for p in CHINA22_GEOPOINTS], [p[1] for p in CHINA22_GEOPOINTS],
    )
    sim = kt.Similarity().fit([0, 10, 3], [0, 0, 7], [1, 21, 7.2], [2, 2, 16.1])
    return kt.Chain([sim, poly, kt.MapProjection("EPSG:4326", "EPSG:3857"),
                     kt.MapProjection("EPSG:3857", "EPSG:4326")])


def _transformed(df, chain):
    return compiler.with_transformed_columns(
        df, chain, x="x", y="y", out_x="px", out_y="py"
    )


def test_compiled_chain_matches_udf_kernel_bitwise(spark, grid):
    chain = _analytic_chain()
    compiled = _transformed(grid, chain).select("px", "py").collect()
    via_udf = grid.select(
        udfs.transform_xy(json.dumps(chain.to_json()), F.col("x"), F.col("y")).alias("o")
    ).select("o.px", "o.py").collect()
    got = np.array([tuple(r) for r in compiled])
    want = np.array([tuple(r) for r in via_udf])
    # same sequential leg math: agreement to the last ulp on every leg
    # that the twins already pin (poly/mercator twin tests); allow 1e-9
    # relative for the composed chain
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_compiled_chain_plan_has_no_python(spark, grid):
    chain = _analytic_chain()
    df = _transformed(grid, chain).select("px", "py")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mixed_chain_pays_one_udf_crossing_per_tin_leg(spark, grid):
    tin = kt.TIN().fit([0, 100, 0, 100], [0, 0, 100, 100],
                       [0, 200, 0, 200], [0, 0, 300, 300])
    aff = kt.Affine(A=[[2.0, 0.0, 1.0], [0.0, 2.0, -1.0], [0.0, 0.0, 1.0]])
    chain = kt.Chain([aff, tin, aff])
    assert compiler.compile_sql(chain) is None  # TIN leg blocks full compile
    pts = grid.where((F.col("x") >= 0) & (F.col("x") <= 40)
                     & (F.col("y") >= 0) & (F.col("y") <= 40))
    df = _transformed(pts, chain).select("x", "y", "px", "py")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # only the TIN leg
    got = {(r[0], r[1]): (r[2], r[3]) for r in df.collect()}
    n_out = 0
    for (x, y), (px, py) in got.items():
        ex, ey = chain.predict(np.array([x]), np.array([y]))
        if np.isnan(ex[0]):
            # outside the TIN hull: kernel NaN == Arrow null
            assert px is None and py is None
            n_out += 1
        else:
            assert abs(px - ex[0]) < 1e-9 and abs(py - ey[0]) < 1e-9
    assert n_out > 0  # the hull-exit path was actually exercised


def test_mercator_cells_query_is_pure_codegen(spark, sf_dir):
    from transformio_spark.plans import queries as q

    df = q.q_mercator_cells(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_temp_name_collisions_raise(spark):
    """Round 6 (ADVICE r05): caller columns colliding with staged /
    s2 temp names must raise loudly, never be silently dropped."""
    import pytest
    from pyspark.sql import functions as F

    from transformio_spark import kernels as kt
    from transformio_spark.functions import s2
    from transformio_spark.operators.compiler import (
        with_transformed_columns,
    )

    df = spark.range(3).select(
        (F.col("id") * 1.0).alias("lon"),
        (F.col("id") * 2.0).alias("lat"),
        F.lit(7).alias("_stg0_keep"),
    )
    moll = kt.MapProjection(fromcrs="EPSG:4326", tocrs="ESRI:54009")
    with pytest.raises(ValueError, match="_stg0_"):
        with_transformed_columns(df, moll)

    df2 = spark.range(3).select(
        (F.col("id") * 1.0).alias("lon"),
        (F.col("id") * 2.0).alias("lat"),
        F.lit(1).alias("_s2_face"),
    )
    with pytest.raises(ValueError, match="_s2_face"):
        s2.with_s2_cell(df2, F.col("lon"), F.col("lat"), 4)
