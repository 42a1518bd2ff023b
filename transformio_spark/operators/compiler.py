"""Transform -> SQL-text compiler: the analytic fast path.

A fitted kernel transform (or Chain) is the engine's logical plan for
a coordinate pipeline (reference transforms.py:48-96).  Its preferred
physical form on Spark is a pure expression — whole-stage codegen,
zero Python crossings.  This module compiles every leg that has a
parity-tested SQL builder (functions/geo.py) to SQL text, applied
with ``F.expr``:

- Affine / Similarity          -> polynomial_predict_sql (order 1)
- Polynomial order 1/2/3       -> polynomial_predict_sql
- Projective                   -> projective_predict_sql
- MapProjection 4326<->3857    -> mercator_forward_sql / mercator_inverse_sql
- MapProjection 4326->54009    -> mollweide_forward_stages (staged Newton)
- MapProjection 54009->4326    -> mollweide_inverse_sql (closed form)
- MapProjection 4326->3031/3995 -> polar_stereographic_forward_sql
- MapProjection 4326->54030    -> robinson_forward_spark_sql
- Chain                        -> composition of the above

Legs that genuinely need numpy/pyproj (TIN triangle loops, non-analytic
CRS pairs) fall back to the Arrow pandas-UDF kernel path PER LEG, so a
mixed Chain pays exactly one Python crossing per non-analytic leg
instead of routing the whole chain through Python.

Float parity: each compiled leg is the SQL builder already proven
against its numpy kernel (tests/test_spark_operators.py,
tests/test_projections.py); composition order matches Chain.predict's
sequential leg order.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..kernels import transforms as kt

SqlBuilder = Callable[[str, str], tuple[str, str]]


def compile_sql(model) -> SqlBuilder | None:
    """Compile a fitted transform to a builder of (px, py) SQL text
    from (x, y) SQL text, or None if any leg needs the numpy/pyproj
    kernel (TIN, non-analytic CRS) or named stages (Mollweide
    forward, see :func:`with_transformed_columns`)."""
    if isinstance(model, kt.Chain):
        legs = [compile_sql(t) for t in model.transforms]
        if any(leg is None for leg in legs):
            return None

        def chained(x: str, y: str) -> tuple[str, str]:
            for leg in legs:
                x, y = leg(x, y)
            return x, y

        return chained
    if isinstance(model, kt.Polynomial):
        if model.A is None:
            return None
        A, order = [list(r) for r in model.A], model.order
        return lambda x, y: geo.polynomial_predict_sql(A, order, x, y)
    if isinstance(model, (kt.Affine, kt.Similarity)):
        if model.A is None:
            return None
        A = [list(r) for r in model.A]
        return lambda x, y: geo.polynomial_predict_sql(A, 1, x, y)
    if isinstance(model, kt.Projective):
        H = [list(r) for r in model.H]
        return lambda x, y: geo.projective_predict_sql(H, x, y)
    if isinstance(model, kt.MapProjection):
        pair = (kt._crs_code(model.fromcrs), kt._crs_code(model.tocrs))
        if pair == ("EPSG:4326", "EPSG:3857"):
            return geo.mercator_forward_sql
        if pair == ("EPSG:3857", "EPSG:4326"):
            return geo.mercator_inverse_sql
        if pair == ("ESRI:54009", "EPSG:4326"):
            return geo.mollweide_inverse_sql
        if pair == ("EPSG:4326", "EPSG:3031"):
            return lambda x, y: geo.polar_stereographic_forward_sql(x, y, -71.0)
        if pair == ("EPSG:4326", "EPSG:3995"):
            return lambda x, y: geo.polar_stereographic_forward_sql(x, y, 71.0)
        if pair == ("EPSG:4326", "ESRI:54030"):
            return geo.robinson_forward_spark_sql  # literal-array spline lookup
        return None  # Mollweide forward, other analytic/pyproj pairs
    return None  # TIN and anything unknown -> UDF kernel leg


def _is_mollweide_forward(leg) -> bool:
    return isinstance(leg, kt.MapProjection) and (
        kt._crs_code(leg.fromcrs), kt._crs_code(leg.tocrs)
    ) == ("EPSG:4326", "ESRI:54009")


def with_transformed_columns(
    df: DataFrame,
    model,
    x: str = "lon",
    y: str = "lat",
    out_x: str = "pred_x",
    out_y: str = "pred_y",
) -> DataFrame:
    """``df`` plus (out_x, out_y) = ``model`` applied to columns (x, y)
    with the best physical plan per leg: SQL text for analytic legs,
    the Mollweide Newton solve as chained projection stages
    (whole-stage codegen instead of an interpreted fold, ~3x on the
    Mollweide gate query at sf0.1), and one Arrow pandas-UDF crossing
    per numpy/pyproj leg.  A fully analytic model runs with zero
    Python.  Temporary columns are named ``_stg<leg>_*`` and dropped."""
    from . import udfs

    legs = model.transforms if isinstance(model, kt.Chain) else [model]
    cx, cy = x, y
    temp: list[str] = []
    for i, leg in enumerate(legs):
        prefix = f"_stg{i}_"
        built = compile_sql(leg)
        if built is not None:
            cx, cy = built(cx, cy)
            continue
        # collision guard (ADVICE r05): a caller column sharing the
        # stage prefix would be silently replaced by a temp column and
        # then dropped below — refuse loudly instead of corrupting data
        clash = [c for c in df.columns if c.startswith(prefix)]
        if clash:
            raise ValueError(
                f"with_transformed_columns: input columns {clash} "
                f"collide with staged temp prefix {prefix!r}"
            )
        if _is_mollweide_forward(leg):
            stages, cx, cy = geo.mollweide_forward_stages(cx, cy, prefix)
            for stage in stages:
                df = df.withColumns({n: F.expr(e) for n, e in stage.items()})
        else:
            xy = prefix + "xy"
            df = df.withColumn(
                xy,
                udfs.transform_xy(
                    json.dumps(leg.to_json()), F.expr(cx), F.expr(cy)
                ),
            )
            cx, cy = f"{xy}.px", f"{xy}.py"
        temp.extend(c for c in df.columns if c.startswith(prefix))
    out = df.withColumns({out_x: F.expr(cx), out_y: F.expr(cy)})
    return out.drop(*temp) if temp else out
