"""Trajectory reconstruction over point streams.

GPS/AIS/telemetry analytics needs per-track *step* metrics — the
distance and initial bearing of each consecutive-point hop — before
any aggregate (path length, speed, heading histogram) can exist.  The
reference stops at pointwise transforms + pairwise distance
(reference accuracy.py:9-41); this operator adds the sequence layer
on the standard scale plan: ONE shuffle partitioning by track id, a
window ``lag`` over each track's sorted run to pair every point with
its predecessor (linear per partition, no self-join — the naive
pairing is an equi-join of the table with itself on (track, rank−1),
a second shuffle this plan never pays), then pure whole-stage-codegen
haversine/bearing columns.  At 10^12 points the shuffle on track id
is the one any keyed sequence op pays; tracks are numerous and small,
so skew salting is not needed (a single hot track would land on one
task, the hot-key caveat of ``operators/temporal.py``).

Cross-engine exactness: the step distance is discretized to integer
METERS per step *before* any sum (``round()`` on a value ≥ ulp-
margin away from every .5 boundary — verified empirically in the gate
test), and the bearing only ever reaches observables through its
45-degree compass sector, so libm-vs-JVM trig ulps cannot move a
gate value.  The haversine/bearing expression TEXT is shared with the
DuckDB oracle (functions/geo.haversine_km_sql / bearing_deg_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import bearing_deg_sql, haversine_km_sql


def track_steps(
    pts: DataFrame,
    track_col: str = "track_id",
    order_cols: tuple[str, ...] = ("doc_num", "span_pos"),
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """All consecutive-point steps of every track: the input plus
    ``plon/plat`` (predecessor point), ``step_m`` (integer-meter
    haversine hop) and ``sector`` (0-7 compass octant of the initial
    bearing: [0°,45°) → 0, [45°,90°) → 1, …, [315°,360°) → 7).
    First point of each track is dropped (it has no predecessor)."""
    w = Window.partitionBy(track_col).orderBy(*[F.col(c) for c in order_cols])
    stepped = pts.withColumns(
        {
            "plon": F.lag(lon).over(w),
            "plat": F.lag(lat).over(w),
        }
    ).where(F.col("plon").isNotNull())
    step_m = F.expr(
        f"cast(round({haversine_km_sql('plon', 'plat', lon, lat)} * 1000.0e0) as bigint)"
    )
    sector = F.expr(
        f"cast(floor({bearing_deg_sql('plon', 'plat', lon, lat)} / 45.0e0) as int)"
    )
    # bearing == 360.0 is unreachable (the % folds it to 0.0) but a
    # floating 359.999…9 that rounds *up* through floor is not; clamp
    # keeps the sector domain closed without disturbing interior values.
    return stepped.withColumns(
        {"step_m": step_m, "sector": F.least(sector, F.lit(7))}
    )


def trajectory_sector_stats(
    pts: DataFrame,
    track_col: str = "track_id",
    order_cols: tuple[str, ...] = ("doc_num", "span_pos"),
) -> DataFrame:
    """Per (track, compass-sector) aggregate of the step stream:
    hop count, summed path meters, longest hop.  Partial aggregation
    (map-side combine) applies — the groupBy keys are a refinement of
    the window partitioning, so AQE coalesces without a second wide
    exchange of raw steps."""
    steps = track_steps(pts, track_col=track_col, order_cols=order_cols)
    return (
        steps.groupBy(track_col, "sector")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("step_m").alias("path_m"),
            F.max("step_m").alias("max_step_m"),
        )
    )
