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
- kNN control-point matching: broadcast the (tiny) center table,
  rank by haversine with a per-point window, keep k (N4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo, tiles
from ..sources.synth import literal_table


def _e5(c: F.Column) -> F.Column:
    """Snap a coordinate to the exact integer 1e-5 lattice — all
    containment/PIP predicates run in integer space so Spark and the
    DuckDB oracle can never disagree at region boundaries."""
    return F.round(c * 100000.0, 0).cast("long")


def _contains() -> F.Column:
    return (
        (_e5(F.col("lon")) >= _e5(F.col("lon_min")))
        & (_e5(F.col("lon")) < _e5(F.col("lon_max")))
        & (_e5(F.col("lat")) >= _e5(F.col("lat_min")))
        & (_e5(F.col("lat")) < _e5(F.col("lat_max")))
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
    ``point_key(points) -> Column`` and ``box_key(boxes) -> Column``:
    the join becomes a broadcast HASH join on the key with the exact
    containment predicate as a codegen'd post-filter — the same
    coarse-key+refine plan the tiled path uses, minus the shuffle."""
    if point_key is None or box_key is None:
        return points.join(F.broadcast(boxes), on=_contains(), how="inner")
    pts = points.withColumn("_ck", point_key(points))
    bxs = boxes.withColumn("_ck", box_key(boxes))
    return (
        pts.join(F.broadcast(bxs), on="_ck", how="inner")
        .where(_contains())
        .drop("_ck")
    )


def _box_tile_cover(boxes: DataFrame, zoom: int) -> DataFrame:
    """Explode each box into the coarse tiles it overlaps (driver-free,
    pure Column sequence arithmetic)."""
    n = 1 << zoom
    tx_min, ty_min = tiles.tile_xy(F.col("lon_min"), F.col("lat_min"), zoom)
    # upper edge is exclusive → subtract one lattice step before tiling
    tx_max, ty_max = tiles.tile_xy(
        F.col("lon_max") - 0.0001, F.col("lat_max") - 0.0001, zoom
    )
    covered = boxes.withColumn(
        "tile_id",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(ty_min, ty_max),
                    lambda ty: F.transform(
                        F.sequence(tx_min, tx_max), lambda tx: ty * n + tx
                    ),
                )
            )
        ),
    )
    return covered


def tiled_contains_join(
    points: DataFrame, boxes: DataFrame, zoom: int = 4, n_salt: int = 0
) -> DataFrame:
    """N6: coarse-tile equi-join + exact refine, with optional explicit
    salting.  Returns the same rows as broadcast_contains_join."""
    cover = _box_tile_cover(boxes, zoom)
    pts = points.withColumn("tile_id", tiles.tile_id(F.col("lon"), F.col("lat"), zoom))
    if n_salt and n_salt > 1:
        pts = pts.withColumn("salt", F.pmod(F.col("doc_num"), F.lit(n_salt)))
        cover = cover.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        joined = pts.join(cover, on=["tile_id", "salt"], how="inner")
    else:
        joined = pts.join(cover, on=["tile_id"], how="inner")
    out_cols = [c for c in joined.columns if c not in ("salt",)]
    return joined.where(_contains()).select(*out_cols)


def _pit_predicate(x, y) -> F.Column:
    c1 = (F.col("x2") - F.col("x1")) * (y - F.col("y1")) - (
        F.col("y2") - F.col("y1")
    ) * (x - F.col("x1"))
    c2 = (F.col("x3") - F.col("x2")) * (y - F.col("y2")) - (
        F.col("y3") - F.col("y2")
    ) * (x - F.col("x2"))
    c3 = (F.col("x1") - F.col("x3")) * (y - F.col("y3")) - (
        F.col("y1") - F.col("y3")
    ) * (x - F.col("x3"))
    return ((c1 <= 0) & (c2 <= 0) & (c3 <= 0)) | (
        (c1 >= 0) & (c2 >= 0) & (c3 >= 0)
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
    pts = points.withColumn("_ck", point_key(points))
    tris = triangles.withColumn("_ck", tri_key(triangles))
    joined = pts.join(F.broadcast(tris), on="_ck", how="inner")
    return joined.where(
        _pit_predicate(_e5(F.col("lon")), _e5(F.col("lat")))
    ).drop("_ck")


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
    inside = ray_cast_inside(F.col("ring"), _e5(F.col("lon")), _e5(F.col("lat")))
    if point_key is None or poly_key is None:
        return points.join(F.broadcast(polys), on=inside, how="inner")
    pts = points.withColumn("_ck", point_key(points))
    pl = polys.withColumn("_ck", poly_key(polys))
    return (
        pts.join(F.broadcast(pl), on="_ck", how="inner")
        .where(inside)
        .drop("_ck")
    )


def knn_join(
    points: DataFrame, centers: DataFrame, k: int = 1, inline: bool = True
) -> DataFrame:
    """N4: k nearest centers per point.  Output adds center_id,
    dist_km, knn_rank.

    inline=True (default, the scale plan for small center sets): the
    center table is collected on the driver (it is a broadcast-sized
    control-point set) and compiled INTO the expression — per row,
    an array of (dist, center_id) structs is built, array_sort'ed and
    sliced to k.  Zero joins, zero shuffles, whole-stage codegen;
    the per-point window-rank plan would shuffle |points| x |centers|
    rows just to pick minima.

    inline=False keeps the general broadcast cross join + window rank
    for center sets too big to inline."""
    if inline:
        rows = centers.select("center_id", "lon", "lat").collect()
        # ONE nested literal array walked by a single transform (the
        # IVF fold template, operators/similarity.py): the haversine
        # expression tree appears once in the plan instead of once per
        # center — ~|centers|x smaller analysis/codegen at identical
        # math and identical (dist, center_id) sort order.
        centers_lit = F.array(
            *[
                F.struct(
                    F.lit(float(r.lon)).alias("c_lon"),
                    F.lit(float(r.lat)).alias("c_lat"),
                    F.lit(r.center_id).alias("center_id"),
                )
                for r in rows
            ]
        )
        entries = F.transform(
            centers_lit,
            lambda c: F.struct(
                geo.haversine_km(
                    F.col("lon"), F.col("lat"), c["c_lon"], c["c_lat"]
                ).alias("dist_km"),
                c["center_id"].alias("center_id"),
            ),
        )
        topk = F.slice(F.array_sort(entries), 1, k)
        out = points.select(
            "*", F.posexplode(topk).alias("_pos", "_nn")
        )
        return (
            out.withColumn("center_id", F.col("_nn.center_id"))
            .withColumn("dist_km", F.col("_nn.dist_km"))
            .withColumn("knn_rank", F.col("_pos") + 1)
            .drop("_pos", "_nn")
        )
    c = centers.select(
        F.col("center_id"),
        F.col("lon").alias("c_lon"),
        F.col("lat").alias("c_lat"),
    )
    crossed = points.join(F.broadcast(c))
    dist = geo.haversine_km(
        F.col("lon"), F.col("lat"), F.col("c_lon"), F.col("c_lat")
    )
    w = Window.partitionBy("doc_id", "span_pos").orderBy(
        dist.asc(), F.col("center_id").asc()
    )
    ranked = crossed.withColumn("dist_km", dist).withColumn(
        "knn_rank", F.row_number().over(w)
    )
    return ranked.where(F.col("knn_rank") <= k).drop("c_lon", "c_lat")


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
        "cell", tiles.tile_id(F.col("lon"), F.col("lat"), zoom)
    )
    matched = (
        keyed.join(F.broadcast(cand_df), "cell")
        .join(F.broadcast(cdf), "center_id")
        .where(
            geo.haversine_km(
                F.col("lon"), F.col("lat"), F.col("c_lon"), F.col("c_lat")
            )
            <= F.lit(float(radius_km))
        )
    )
    return matched.groupBy("center_id").agg(
        F.count(F.lit(1)).alias("n_within")
    )
