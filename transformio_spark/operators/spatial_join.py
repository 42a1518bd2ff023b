"""Spatial joins: broadcast containment, tile-bucketed salted join,
point-in-polygon refine, kNN (SURVEY.md §2.6 N3-N6).

Design for 10^12 rows / 1000 executors:

- The polygon/region side is small → ``broadcast()`` it and keep the
  big side shuffle-free (N5).  The containment predicate runs inside
  WholeStageCodegen.
- When the region side is too big to broadcast, the scale path is a
  coarse-cell EQUI-join (regions exploded to their tile cover at a
  coarse zoom; points keyed by the same tile) followed by an exact
  refine predicate — turning an unbounded range join into a hash
  join on tile_id (N6).
- Zipf-skewed tiles make a handful of hash buckets huge; the
  explicit-salting variant splinters each point's tile key into
  ``n_salt`` sub-keys (pmod(doc_num, n_salt)) and replicates the
  region side per salt — per the north rule, this is explicit and
  testable (salted == unsalted), independent of AQE's skew splitting
  (which stays enabled as belt-and-braces).
- kNN control-point matching: compile the (tiny) center table into
  a per-point argmin expression, keep k (N4).

Join keys and refine predicates are SQL text, each applied with one
call (DESIGN.md §3, one expression form); callers pass their coarse
keys the same way, as ``key(df) -> SQL text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo, tiles
from ..sources.synth import literal_table


def _e5_sql(c: str) -> str:
    """Snap a coordinate to the exact integer 1e-5 lattice — all
    containment/PIP predicates run in integer space so Spark and the
    DuckDB oracle can never disagree at region boundaries."""
    return f"cast(round({c} * 100000.0e0, 0) as bigint)"


_CONTAINS_SQL = (
    f"{_e5_sql('lon')} >= {_e5_sql('lon_min')} "
    f"AND {_e5_sql('lon')} < {_e5_sql('lon_max')} "
    f"AND {_e5_sql('lat')} >= {_e5_sql('lat_min')} "
    f"AND {_e5_sql('lat')} < {_e5_sql('lat_max')}"
)


def broadcast_contains_join(
    points: DataFrame,
    boxes: DataFrame,
    point_key=None,
    box_key=None,
) -> DataFrame:
    """N5: points ⋈ region boxes by containment, region side broadcast.

    Without keys this is a BroadcastNestedLoopJoin (predicate applied
    to every (point, box) pair) — correct for arbitrary boxes but the
    predicate runs |boxes| times per point and BNLJ skips whole-stage
    codegen.  When the caller can express a coarse cell key computable
    on BOTH sides (point coords → key, box extent → key set), pass
    ``point_key(points)`` and ``box_key(boxes)``, each returning the
    key's SQL text:
    the join becomes a broadcast HASH join on the key with the exact
    containment predicate as a codegen'd post-filter — the same
    coarse-key+refine plan the tiled path uses, minus the shuffle."""
    if point_key is None or box_key is None:
        return points.join(
            F.broadcast(boxes), on=F.expr(_CONTAINS_SQL), how="inner"
        )
    pts = points.withColumn("_ck", F.expr(point_key(points)))
    bxs = boxes.withColumn("_ck", F.expr(box_key(boxes)))
    return (
        pts.join(F.broadcast(bxs), on="_ck", how="inner")
        .where(_CONTAINS_SQL)
        .drop("_ck")
    )


def _box_tile_cover(boxes: DataFrame, zoom: int) -> DataFrame:
    """Explode each box into the coarse tiles it overlaps (driver-free,
    pure sequence arithmetic)."""
    tx_min, ty_min = tiles.tile_xy_sql("lon_min", "lat_min", zoom)
    # upper edge is exclusive → subtract one lattice step before tiling
    tx_max, ty_max = tiles.tile_xy_sql("lon_max - 1.0e-4", "lat_max - 1.0e-4", zoom)
    return boxes.withColumn(
        "tile_id",
        F.expr(
            f"explode(flatten(transform(sequence({ty_min}, {ty_max}), "
            f"ty -> transform(sequence({tx_min}, {tx_max}), "
            f"tx -> ty * {1 << zoom} + tx))))"
        ),
    )


def tiled_contains_join(
    points: DataFrame, boxes: DataFrame, zoom: int = 4, n_salt: int = 0
) -> DataFrame:
    """N6: coarse-tile equi-join + exact refine, with optional explicit
    salting.  Returns the same rows as broadcast_contains_join."""
    cover = _box_tile_cover(boxes, zoom)
    pts = points.withColumn(
        "tile_id", F.expr(tiles.tile_id_sql("lon", "lat", zoom))
    )
    if n_salt and n_salt > 1:
        pts = pts.withColumn("salt", F.expr(f"pmod(doc_num, {n_salt})"))
        cover = cover.withColumn(
            "salt", F.expr(f"explode(sequence(0, {n_salt - 1}))")
        )
        joined = pts.join(cover, on=["tile_id", "salt"], how="inner")
    else:
        joined = pts.join(cover, on=["tile_id"], how="inner")
    out_cols = [c for c in joined.columns if c not in ("salt",)]
    return joined.where(_CONTAINS_SQL).select(*out_cols)


def _pit_sql(x: str, y: str) -> str:
    """Boundary-inclusive sign test of point (x, y) against triangle
    (x1, y1)-(x2, y2)-(x3, y3): the three edge cross products are all
    <= 0 or all >= 0."""
    c = [
        f"(x{j} - x{i}) * ({y} - y{i}) - (y{j} - y{i}) * ({x} - x{i})"
        for i, j in ((1, 2), (2, 3), (3, 1))
    ]
    return (
        f"({c[0]} <= 0 AND {c[1]} <= 0 AND {c[2]} <= 0) "
        f"OR ({c[0]} >= 0 AND {c[1]} >= 0 AND {c[2]} >= 0)"
    )


def point_in_triangle_join_keyed(
    points: DataFrame, triangles: DataFrame, point_key, tri_key
) -> DataFrame:
    """N3 scale path: broadcast HASH join on a coarse cell key (both
    sides computable), exact integer-lattice sign test as a codegen'd
    post-filter.  The test is the reference TIN's boundary-inclusive
    cross-product sign test (reference transforms.py:687-694) in
    integer 1e-5-lattice space (triangle vertices are bigint lattice
    coords), so boundary points are classified identically by Spark
    and the oracle.  Exact point-in-triangle when every triangle lies
    within one coarse cell."""
    pts = points.withColumn("_ck", F.expr(point_key(points)))
    tris = triangles.withColumn("_ck", F.expr(tri_key(triangles)))
    joined = pts.join(F.broadcast(tris), on="_ck", how="inner")
    return joined.where(_pit_sql(_e5_sql("lon"), _e5_sql("lat"))).drop("_ck")


def ray_cast_inside(ring, px, py) -> F.Column:
    """Even-odd ray-cast point-in-polygon over a CLOSED
    array<struct<x,y>> ring of integer-lattice vertices — pure Column
    arithmetic (codegen, no Python).

    Exact-integer crossing test for the horizontal ray to +inf from
    (px, py): edge (x1,y1)->(x2,y2) crosses iff the edge straddles py
    ((y1 > py) != (y2 > py)) and the intersection is strictly right of
    px — division-free via the sign of
    t = (x2-x1)*(py-y1) - (px-x1)*(y2-y1), flipped with dy's sign.
    All operands are bigints (|coord| <= 1.8e7 -> products < 2^63), so
    Spark and the DuckDB oracle classify boundary points identically.
    Holes work naturally: pass each ring and XOR, or concatenate rings
    (even-odd semantics)."""

    def edge_cross(i):
        a = F.element_at(ring, i)
        b = F.element_at(ring, i + F.lit(1))
        x1, y1, x2, y2 = a["x"], a["y"], b["x"], b["y"]
        straddle = (y1 > py) != (y2 > py)
        t = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        cross = straddle & (
            ((y2 > y1) & (t > 0)) | ((y2 < y1) & (t < 0))
        )
        return F.when(cross, F.lit(1)).otherwise(F.lit(0))

    crossings = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.size(ring) - 1), edge_cross),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return crossings % 2 == 1


def point_in_polygon_join(
    points: DataFrame, polys: DataFrame, point_key=None, poly_key=None
) -> DataFrame:
    """N3 completed: points ⋈ arbitrary polygons (closed lattice
    rings) by even-odd ray-cast.  With coarse-cell keys on both sides
    this is a broadcast HASH join with the ray-cast as a codegen'd
    post-filter (same plan shape as the box/triangle joins); without
    keys it degrades to BNLJ with the predicate as the join
    condition."""
    inside = ray_cast_inside(
        F.col("ring"), F.expr(_e5_sql("lon")), F.expr(_e5_sql("lat"))
    )
    if point_key is None or poly_key is None:
        return points.join(F.broadcast(polys), on=inside, how="inner")
    pts = points.withColumn("_ck", F.expr(point_key(points)))
    pl = polys.withColumn("_ck", F.expr(poly_key(polys)))
    return (
        pts.join(F.broadcast(pl), on="_ck", how="inner")
        .where(inside)
        .drop("_ck")
    )


def knn_join(points: DataFrame, centers: DataFrame, k: int = 1) -> DataFrame:
    """N4: k nearest centers per point.  Output adds center_id,
    dist_km, knn_rank.

    The center table is collected on the driver (it is a
    broadcast-sized control-point set) and compiled INTO the
    expression — per row, one (dist_km, center_id) struct per center,
    sort_array'ed and sliced to k.  Zero joins, zero shuffles,
    whole-stage codegen; a per-point window-rank plan would shuffle
    |points| x |centers| rows just to pick minima."""
    rows = centers.select("center_id", "lon", "lat").collect()
    # one haversine per center, spelled out in one SQL expression:
    # a literal center array walked by a `transform` lambda (then
    # `array_sort`) runs interpreted, row by row.  This runs in
    # generated code, in the same (dist_km, center_id) order.
    entries = ", ".join(
        "named_struct('dist_km', "
        + geo.haversine_km_sql(
            "lon", "lat", geo.dlit_sql(r.lon), geo.dlit_sql(r.lat)
        )
        + f", 'center_id', {int(r.center_id)})"
        for r in rows
    )
    topk = F.expr(f"slice(sort_array(array({entries})), 1, {int(k)})")
    out = points.select("*", F.posexplode(topk).alias("_pos", "_nn"))
    return out.select(
        *[out[c] for c in points.columns],
        F.col("_nn.center_id").alias("center_id"),
        F.col("_nn.dist_km").alias("dist_km"),
        (F.col("_pos") + 1).alias("knn_rank"),
    )


def radius_cover_cells(
    lon: float, lat: float, radius_km: float, zoom: int
) -> list[int]:
    """Driver-side tile cover of a radius around a center — the
    candidate key set for :func:`radius_join_counts`.  Over-covers by
    a 5% margin (candidates are refined by exact haversine, so only
    RECALL matters and the bbox is deliberately generous); raises on
    antimeridian wrap (production splits the bbox into two segments —
    out of scope for the gate centers, all far from ±180)."""
    import math

    margin = 1.05
    dlat = radius_km * margin / 110.574
    coslat = math.cos(math.radians(min(abs(lat) + dlat, 84.9)))
    dlon = radius_km * margin / (111.320 * max(coslat, 1e-6))
    if lon - dlon < -180.0 or lon + dlon >= 180.0:
        raise ValueError("radius bbox wraps the antimeridian")
    n = 1 << zoom

    def txy(lo, la):
        tx = math.floor((round(lo * 10000) + 1_800_000) * n / float(tiles.LON_SPAN_E4))
        ty = math.floor((round(la * 10000) + 850_000) * n / float(tiles.LAT_SPAN_E4))
        return (min(max(tx, 0), n - 1), min(max(ty, 0), n - 1))

    tx0, ty0 = txy(lon - dlon, max(lat - dlat, -85.0))
    tx1, ty1 = txy(lon + dlon, min(lat + dlat, 84.9999))
    return [
        ty * n + tx
        for ty in range(ty0, ty1 + 1)
        for tx in range(tx0, tx1 + 1)
    ]


def radius_join_counts(
    points: DataFrame,
    centers: list[tuple[int, float, float]],
    radius_km: float,
    zoom: int = 6,
) -> DataFrame:
    """Spatial RANGE join (distance-radius): per center, the number of
    points within ``radius_km`` (haversine, R=6367 like the
    reference's geodesic metric).  Scale shape: the unbounded
    distance predicate becomes a hash EQUI-join on tile_id — each
    center's radius bbox expands to its tile cover (tiny, broadcast),
    points carry their tile key, and the exact haversine refine runs
    only on candidates inside covered tiles.  Zero shuffles of the
    big side beyond the final per-center aggregation."""
    spark = points.sparkSession
    cand = [
        (cid, cell)
        for cid, lon, lat in centers
        for cell in radius_cover_cells(lon, lat, radius_km, zoom)
    ]
    cand_df = literal_table(spark, cand, "center_id int, cell long")
    cdf = literal_table(
        spark, centers, "center_id int, c_lon double, c_lat double"
    )
    keyed = points.withColumn(
        "cell", F.expr(tiles.tile_id_sql("lon", "lat", zoom))
    )
    dist = geo.haversine_km_sql("lon", "lat", "c_lon", "c_lat")
    matched = (
        keyed.join(F.broadcast(cand_df), "cell")
        .join(F.broadcast(cdf), "center_id")
        .where(f"{dist} <= {geo.dlit_sql(radius_km)}")
    )
    return matched.groupBy("center_id").agg(
        F.count(F.lit(1)).alias("n_within")
    )
