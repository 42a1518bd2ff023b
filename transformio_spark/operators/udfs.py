"""Arrow-vectorized pandas-UDF wrappers around the numpy kernels.

The reference executes every transform as a whole-array numpy call
(reference transforms.py:341-385, 685-715); the direct Spark analog is
a pandas UDF over Arrow column batches — same math, whole-array numpy
calls of up to ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
A task is not a batch: it carries its whole partition, in as many
batches as that needs (the 80k sf0.01 points sit in 8 partitions of
10k rows; coalesced to 4 tasks on local[4], each task is 20k rows,
one batch).
The fitted model travels as its JSON IR (a tiny broadcastable dict,
reference transforms.py:8-12), rebuilt once per executor process and
memoized.

Each Python task pays a fixed worker start cost (~0.2 s measured
before its first batch), so the cost of a crossing is set by the
number of tasks, not rows.  ``with_transformed`` therefore applies a
whole model (a ``Chain`` for multi-step pipelines) in ONE crossing
and runs it in one wave: its input is coalesced (narrow, no shuffle)
to ``defaultParallelism`` partitions.

Two application paths exist by design:
- Column expressions (functions/geo.py) for order-1/2/3 polynomials
  and haversine — preferred (whole-stage codegen, zero Python);
- this module for models that genuinely need numpy/driver-fit state
  (TIN triangle loops, Chain-of-anything, pyproj MapProjection) and
  as the parity twin in tests.
"""

from __future__ import annotations

import functools
import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import from_json

@functools.cache
def model_from_json(model_json: str):
    """The fitted model of a JSON IR string, rebuilt once per process."""
    return from_json(json.loads(model_json))


def transform_xy(model_json: str, x: Column, y: Column) -> Column:
    """Apply any fitted transform (by JSON IR) to coordinate column
    batches; returns struct<px double, py double>.  NaN outputs (e.g.
    TIN points outside the hull, reference transforms.py:701-702)
    surface as SQL nulls in the struct fields."""

    @pandas_udf("px double, py double")
    def _apply(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        model = model_from_json(model_json)
        px, py = model.predict(xs.to_numpy(), ys.to_numpy())
        return pd.DataFrame({"px": px, "py": py})

    return _apply(x, y)


def with_transformed(
    df: DataFrame,
    model_json: str,
    x: str = "lon",
    y: str = "lat",
    out_x: str = "pred_x",
    out_y: str = "pred_y",
) -> DataFrame:
    """DataFrame-level transform stage: adds (out_x, out_y) columns.

    The input is first coalesced to ``defaultParallelism`` partitions
    so the Python stage runs one task per core, in one wave; an input
    with fewer partitions is left as it is."""
    res = transform_xy(model_json, F.col(x), F.col(y))
    cores = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.coalesce(cores)
        .withColumn("_t", res)
        .withColumn(out_x, F.col("_t.px"))
        .withColumn(out_y, F.col("_t.py"))
        .drop("_t")
    )
