"""Vector-geometry transform at scale (SURVEY.md §2.4 ops 25-27).

At 10^12 scale a geometry is never a GeoJSON dict — it is rows of an
exploded long table
``(geom_id, part_id, ring_id, pt_seq, x, y)`` (SURVEY.md §1 row 4).
The reference's ``vector.transform`` (vector.py:58-144) becomes:

    explode (done once at ingest) → coordinate kernel (Column expr or
    pandas UDF) → filter NaN/Inf points (vector.py:78-81 semantics,
    including the degenerate-ring caveat — dropped points change
    rings; replicated, not fixed) → re-nest with collect_list over
    (geom_id, part_id, ring_id) sorted by pt_seq.

The re-nest shuffle partitions by geom_id; with input bucketed or
range-partitioned by geom_id Catalyst elides it entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.synth import literal_table
from . import udfs

LONG_SCHEMA = (
    "geom_id string, part_id int, ring_id int, pt_seq int, x double, y double"
)


def geojson_to_long(spark, features: list[tuple[str, dict]]) -> DataFrame:
    """Driver-side ingest helper: (geom_id, geojson geometry dict)
    pairs → the exploded long table.  Test/ingest convenience — bulk
    ingest at scale would do the same explode from a parsed source."""
    rows = []
    for geom_id, geom in features:
        gtype = geom["type"]
        coords = geom["coordinates"]
        if gtype == "Point":
            parts = [[[coords]]]
        elif gtype in ("MultiPoint", "LineString"):
            parts = [[coords]]
        elif gtype in ("MultiLineString", "Polygon"):
            parts = [coords]
        elif gtype == "MultiPolygon":
            parts = coords
        else:
            raise ValueError(gtype)
        for pi, part in enumerate(parts):
            for ri, ring in enumerate(part):
                for si, (x, y) in enumerate(ring):
                    rows.append((geom_id, pi, ri, si, float(x), float(y)))
    return literal_table(spark, rows, LONG_SCHEMA)


def transform_long(geoms: DataFrame, model_json: str) -> DataFrame:
    """Transform every point and drop NaN/Inf results (the reference's
    ring-point drop, vector.py:78-81)."""
    out = udfs.with_transformed(geoms, model_json, x="x", y="y")
    return (
        out.where(
            F.col("pred_x").isNotNull()
            & F.col("pred_y").isNotNull()
            & ~F.isnan("pred_x")
            & ~F.isnan("pred_y")
            & (F.abs("pred_x") != float("inf"))
            & (F.abs("pred_y") != float("inf"))
        )
        .select(
            "geom_id", "part_id", "ring_id", "pt_seq",
            F.col("pred_x").alias("x"), F.col("pred_y").alias("y"),
        )
    )


def bbox_per_geom(geoms: DataFrame) -> DataFrame:
    """Op 26 at scale: bbox per geometry."""
    return geoms.groupBy("geom_id").agg(
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
    )


def renest(geoms: DataFrame) -> DataFrame:
    """Re-nest the long table to
    (geom_id, parts array<array<array<struct<x,y>>>>) — rings sorted
    by pt_seq via array_sort on collected structs (one shuffle,
    partitioned by geom_id)."""
    pts = geoms.groupBy("geom_id", "part_id", "ring_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pt_seq", "x", "y"))
            ),
            lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")),
        ).alias("ring")
    )
    rings = pts.groupBy("geom_id", "part_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ring_id", "ring"))),
            lambda s: s["ring"],
        ).alias("rings")
    )
    return rings.groupBy("geom_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("part_id", "rings"))),
            lambda s: s["rings"],
        ).alias("parts")
    )


def ring_metrics(geoms: DataFrame) -> DataFrame:
    """Shoelace metrics per ring over the long point table: twice the
    signed area (``area2``, EXACT integer when x/y are integer-lattice
    coords), vertex count, and the polygon centroid.

    Cross-engine exactness contract: the shoelace terms are 64-bit
    integer products and the centroid numerators are DECIMAL(38,0) —
    both order-safe under distributed summation (integer/decimal
    addition is associative; double summation is NOT, so a
    double-typed sum could hash-differ between engines on mere
    partition order).  The only doubles are the two final divisions of
    exact integers, which IEEE round identically everywhere.

    One shuffle (the groupBy); the edge-pairing lead() shares the same
    (geom_id, part_id, ring_id) partitioning, so Catalyst plans a
    single Exchange.  Rings are closed implicitly (last vertex pairs
    with the first); callers pass OPEN rings (no repeated last point).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("geom_id", "part_id", "ring_id").orderBy("pt_seq")
    xl = F.col("x").cast("long")
    yl = F.col("y").cast("long")
    edges = geoms.select(
        "geom_id", "part_id", "ring_id",
        xl.alias("xi"), yl.alias("yi"),
        F.coalesce(F.lead(xl, 1).over(w), F.first(xl).over(w)).alias("xn"),
        F.coalesce(F.lead(yl, 1).over(w), F.first(yl).over(w)).alias("yn"),
    ).withColumn(
        "cross", F.col("xi") * F.col("yn") - F.col("xn") * F.col("yi")
    )
    dec = "decimal(38,0)"
    agg = edges.groupBy("geom_id", "part_id", "ring_id").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("cross").alias("area2"),
        F.sum(
            ((F.col("xi") + F.col("xn")).cast(dec)
             * F.col("cross").cast(dec))
        ).alias("_cxn"),
        F.sum(
            ((F.col("yi") + F.col("yn")).cast(dec)
             * F.col("cross").cast(dec))
        ).alias("_cyn"),
    )
    a2d = F.col("area2").cast("double")
    return agg.select(
        "geom_id", "part_id", "ring_id", "n_vertices", "area2",
        (F.col("_cxn").cast("double") / (3.0 * a2d)).alias("centroid_x"),
        (F.col("_cyn").cast("double") / (3.0 * a2d)).alias("centroid_y"),
    )
