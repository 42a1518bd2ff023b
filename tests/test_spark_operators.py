"""Spark-layer operator tests: pandas-UDF kernel parity, vector
long-table pipeline vs the reference's dict semantics, span-sequence
invariance, salted==unsalted join equality."""

from __future__ import annotations

import json

import numpy as np
import pytest
from numpy.testing import assert_array_almost_equal

from ref_loader import requires_reference
from transformio_spark import kernels as k
from transformio_spark.fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
from transformio_spark.operators import udfs, vector_geom
from transformio_spark.sources import synth

@pytest.fixture(scope="module")
def poly2_json():
    imx, imy = zip(*CHINA22_IMPOINTS)
    gx, gy = zip(*CHINA22_GEOPOINTS)
    return json.dumps(k.Polynomial(order=2).fit(imx, imy, gx, gy).to_json())


@pytest.fixture(scope="module")
def tin_json():
    imx, imy = zip(*CHINA22_IMPOINTS)
    gx, gy = zip(*CHINA22_GEOPOINTS)
    return json.dumps(k.TIN().fit(imx, imy, gx, gy).to_json())


def test_pandas_udf_matches_kernel(spark, poly2_json):
    rng = np.random.default_rng(7)
    xs = rng.uniform(0, 1100, 2000)
    ys = rng.uniform(0, 1000, 2000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double"
    )
    out = udfs.with_transformed(df, poly2_json, x="x", y="y").orderBy("x").collect()
    model = k.from_json(json.loads(poly2_json))
    order = np.argsort(xs)
    px, py = model.predict(xs[order], ys[order])
    assert_array_almost_equal([r.pred_x for r in out], px, decimal=10)
    assert_array_almost_equal([r.pred_y for r in out], py, decimal=10)


def test_pandas_udf_tin_nan_outside_hull(spark, tin_json):
    df = spark.createDataFrame(
        [(500.0, 500.0), (99999.0, 99999.0)], "x double, y double"
    )
    rows = (
        udfs.with_transformed(df, tin_json, x="x", y="y").orderBy("x").collect()
    )
    assert rows[0].pred_x is not None and not np.isnan(rows[0].pred_x)
    # outside the TIN hull → NaN sentinel (reference transforms.py:701-702)
    assert rows[1].pred_x is None or np.isnan(rows[1].pred_x)


@requires_reference
def test_vector_kernel_parity_vs_reference(ref_transforms, ref_vector):
    trans = k.Affine(offset=(10, 20))
    rtrans = ref_transforms.Affine(offset=(10, 20))
    geoj = {
        "type": "Feature",
        "properties": {"name": "t"},
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                 [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]],
                [[[10, 10], [14, 10], [14, 14], [10, 14], [10, 10]]],
            ],
        },
    }
    ours = k.vector.transform(geoj, trans)
    ref = ref_vector.transform(geoj, rtrans)
    assert json.dumps(ours, default=float) == json.dumps(ref, default=float)
    assert list(k.vector.iter_points(geoj)) == list(ref_vector.iter_points(geoj))
    assert k.vector.get_bbox(geoj) == ref_vector.get_bbox(geoj)


def test_vector_long_table_matches_kernel(spark, tin_json):
    """The Spark explode→kernel→filter→renest pipeline must reproduce
    the reference's dict-level transform incl. NaN point drops."""
    imx, imy = zip(*CHINA22_IMPOINTS)
    ring = list(zip(imx, imy)) + [(99999.0, 99999.0), (imx[0], imy[0])]
    geom = {"type": "Polygon", "coordinates": [ring]}
    model = k.from_json(json.loads(tin_json))
    expected = k.vector.transform(geom, model)

    long_df = vector_geom.geojson_to_long(spark, [("g1", geom)])
    out = vector_geom.transform_long(long_df, tin_json)
    nested = vector_geom.renest(out).collect()
    assert len(nested) == 1
    got_ring = [(p.x, p.y) for p in nested[0].parts[0][0]]
    exp_ring = [(float(x), float(y)) for x, y in expected["coordinates"][0]]
    assert len(got_ring) == len(exp_ring)
    assert_array_almost_equal(np.array(got_ring), np.array(exp_ring), decimal=8)


def test_span_sequence_invariance(spark, sf_dir):
    """input_hint invariant: the pipeline never alters the per-doc
    span sequence (kind, text, media_ref, order)."""
    from transformio_spark.operators import extract

    docs = synth.docs_spans(spark, sf_dir)
    before = {r.doc_id: [tuple(s) for s in r.spans] for r in docs.limit(200).collect()}
    affine_a = extract.fit_px2geo_affine(synth.gcps(spark))
    pts = extract.extract_coordinates(docs, affine_a)
    enriched = docs.join(
        pts.groupBy("doc_id").count().withColumnRenamed("count", "n_points"),
        "doc_id",
    )
    after = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in enriched.where(enriched.doc_id.isin(list(before))).collect()
    }
    assert set(before) == set(after)
    for d in before:
        assert before[d] == after[d], f"span sequence changed for {d}"


def test_salted_equals_unsalted(spark, sf_dir):
    from transformio_spark.operators import extract, spatial_join

    docs = synth.docs_spans(spark, sf_dir)
    affine_a = extract.fit_px2geo_affine(synth.gcps(spark))
    pts = extract.extract_coordinates(docs, affine_a)
    boxes = synth.region_boxes(spark, sf_dir)
    a = (
        spatial_join.broadcast_contains_join(pts, boxes)
        .groupBy("region_id").count().collect()
    )
    b = (
        spatial_join.tiled_contains_join(pts, boxes, zoom=4, n_salt=8)
        .groupBy("region_id").count().collect()
    )
    assert sorted((r.region_id, r["count"]) for r in a) == sorted(
        (r.region_id, r["count"]) for r in b
    )


def test_mercator_column_twin_matches_udf_kernel(spark):
    """functions/geo.mercator_forward (codegen path) must equal the
    Chain(MapProjection) pandas-UDF kernel path to the last ulp-ish
    (both are float64 spherical-Mercator; numpy vs JVM Math may differ
    ~1 ulp, assert < 1e-6 m)."""
    import json as _json

    from pyspark.sql import functions as F

    from transformio_spark.functions import geo

    rows = [(float(lon), float(lat)) for lon in range(-179, 180, 37)
            for lat in range(-84, 85, 23)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    mx, my = geo.mercator_forward(F.col("lon"), F.col("lat"))
    col_path = df.select("lon", "lat", mx.alias("cx"), my.alias("cy"))
    model = k.Chain([k.MapProjection("EPSG:4326", "EPSG:3857")])
    udf_path = udfs.with_transformed(
        col_path, _json.dumps(model.to_json()),
        x="lon", y="lat", out_x="ux", out_y="uy",
    ).collect()
    for r in udf_path:
        assert abs(r.cx - r.ux) < 1e-6, r
        assert abs(r.cy - r.uy) < 1e-6, r


def test_ray_cast_matches_numpy_reference(spark):
    """The Column-expression even-odd ray-cast must agree with an
    independent numpy crossing-count implementation on random lattice
    points INCLUDING points sharing y with vertices and points on
    edges (the half-open straddle rule must match)."""
    from pyspark.sql import functions as F

    from transformio_spark.operators import spatial_join

    ring = [(600000, 600000), (6600000, 600000), (6600000, 2800000),
            (3600000, 1400000), (600000, 2800000), (600000, 600000)]

    def np_inside(px, py):
        cross = 0
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            if (y1 > py) != (y2 > py):
                t = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
                if (y2 > y1 and t > 0) or (y2 < y1 and t < 0):
                    cross += 1
        return cross % 2 == 1

    rng = np.random.default_rng(17)
    pts = [(int(x), int(y)) for x, y in zip(
        rng.integers(0, 7_500_000, 400), rng.integers(0, 3_500_000, 400)
    )]
    # adversarial: vertex-aligned y values, on-edge and vertex points
    pts += [(3_600_000, 1_400_000), (600_000, 600_000), (1_000_000, 600_000),
            (3_000_000, 600_000), (6_700_000, 2_800_000), (0, 600_000),
            (3_600_000, 600_000), (2_100_000, 1_700_000)]
    df = spark.createDataFrame(pts, "px long, py long")
    ring_col = F.array(*[
        F.struct(F.lit(x).cast("long").alias("x"), F.lit(y).cast("long").alias("y"))
        for x, y in ring
    ])
    got = df.select(
        "px", "py",
        spatial_join.ray_cast_inside(ring_col, F.col("px"), F.col("py")).alias("inside"),
    ).collect()
    assert len(got) == len(pts)
    n_in = 0
    for r in got:
        want = np_inside(r.px, r.py)
        assert r.inside == want, (r.px, r.py)
        n_in += want
    assert 0 < n_in < len(pts)  # non-degenerate


def test_projective_column_twin_matches_kernel(spark):
    """functions/geo.projective_predict must equal
    kernels.Projective.predict on the same H (both are the standard
    homography division; double-exact on identical expression trees)."""
    from pyspark.sql import functions as F

    from transformio_spark.functions import geo
    from transformio_spark.plans.queries import PROJECTIVE_H

    rows = [(float(lon), float(lat)) for lon in range(-179, 180, 41)
            for lat in range(-84, 85, 29)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    px, py = geo.projective_predict(PROJECTIVE_H, F.col("lon"), F.col("lat"))
    got = df.select("lon", "lat", px.alias("px"), py.alias("py")).collect()

    trans = k.Projective(H=np.array(PROJECTIVE_H))
    ex, ey = trans.predict(
        np.array([r.lon for r in got]), np.array([r.lat for r in got])
    )
    for r, wx, wy in zip(got, ex, ey):
        assert abs(r.px - wx) < 1e-12
        assert abs(r.py - wy) < 1e-12


def test_rolling_fingerprint_empty_text(spark):
    """Empty string: Spark's sequence(1, 0) is DESCENDING [1, 0], so an
    unguarded fold raises ELEMENT_AT_BY_INDEX_ZERO; the guarded column
    must return 0 like the DuckDB twin (ADVICE round 2)."""
    import duckdb

    from pyspark.sql import functions as F

    from transformio_spark.functions import text as T

    df = spark.createDataFrame(
        [("", ), ("a", ), ("hello world", )], "text string"
    )
    got = {
        r.text: r.fp
        for r in df.select("text", T.rolling_fingerprint(F.col("text")).alias("fp")).collect()
    }
    sql = T.rolling_fingerprint_sql("text")
    want = dict(
        duckdb.sql(
            f"select text, {sql} as fp from (values (''), ('a'), ('hello world')) t(text)"
        ).fetchall()
    )
    assert got == want
    assert got[""] == 0


def test_idw_surface_properties(spark):
    """IDW sanity pins: at a control point the surface returns that
    point's value (to the eps regularization); everywhere the value is
    within [min, max] of the control values (convex weights); the
    DuckDB and Spark evaluations of the shared text agree exactly."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from transformio_spark.fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from transformio_spark.functions.geo import idw_sql

    centers = [(p[0], p[1]) for p in CHINA22_GEOPOINTS]
    vals = [float(p[0]) for p in CHINA22_IMPOINTS]
    expr = idw_sql("lon", "lat", centers, vals)
    rng = np.random.default_rng(3)
    qlon = np.concatenate([rng.uniform(-179, 179, 200),
                           np.array([c[0] for c in centers])])
    qlat = np.concatenate([rng.uniform(-85, 85, 200),
                           np.array([c[1] for c in centers])])
    pdf = pd.DataFrame({"lon": qlon, "lat": qlat})
    con = duckdb.connect()
    con.register("pts", pdf)
    d = con.sql(f"SELECT {expr} AS v FROM pts").df()["v"].values
    s = (
        spark.createDataFrame(pdf)
        .select(F.expr(expr).alias("v"))
        .toPandas()["v"].values
    )
    # Identical SQL text, but Spark (java.lang.Math) and DuckDB (libm)
    # trig differ by ~1 ulp; the shared text pins everything else.
    np.testing.assert_allclose(d, s, rtol=1e-12)
    assert d.min() >= min(vals) - 1e-9 and d.max() <= max(vals) + 1e-9
    at_centers = d[200:]
    np.testing.assert_allclose(at_centers, vals, atol=1e-6)


def test_bearing_deg_known_azimuths(spark):
    """Bearing pins: cardinal directions from the equator/meridians,
    [0,360) domain, and Spark/DuckDB agreement on the shared text."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from transformio_spark.functions.geo import bearing_deg_sql

    cases = pd.DataFrame(
        [
            (0.0, 0.0, 0.0, 10.0, 0.0),     # due north
            (0.0, 0.0, 10.0, 0.0, 90.0),    # due east along equator
            (0.0, 10.0, 0.0, 0.0, 180.0),   # due south
            (10.0, 0.0, 0.0, 0.0, 270.0),   # due west along equator
            (0.0, 0.0, 45.0, 0.0, 90.0),
        ],
        columns=["lon1", "lat1", "lon2", "lat2", "want"],
    )
    expr = bearing_deg_sql("lon1", "lat1", "lon2", "lat2")
    con = duckdb.connect()
    con.register("c", cases)
    d = con.sql(f"SELECT {expr} AS b FROM c").df()["b"].values
    s = (
        spark.createDataFrame(cases)
        .select(F.expr(expr).alias("b"))
        .toPandas()["b"].values
    )
    np.testing.assert_allclose(d, cases["want"].values, atol=1e-9)
    np.testing.assert_allclose(s, cases["want"].values, atol=1e-9)
    # random pairs: domain [0,360), cross-engine agreement to ulps
    rng = np.random.default_rng(7)
    rand = pd.DataFrame({
        "lon1": rng.uniform(-180, 180, 500),
        "lat1": rng.uniform(-85, 85, 500),
        "lon2": rng.uniform(-180, 180, 500),
        "lat2": rng.uniform(-85, 85, 500),
        "want": np.zeros(500),
    })
    con.register("r", rand)
    dr = con.sql(f"SELECT {expr} AS b FROM r").df()["b"].values
    sr = (
        spark.createDataFrame(rand)
        .select(F.expr(expr).alias("b"))
        .toPandas()["b"].values
    )
    assert (dr >= 0).all() and (dr < 360).all()
    np.testing.assert_allclose(dr, sr, atol=1e-9)


def test_trajectory_gate_discretization_margins(spark, sf_dir):
    """The trajectory gate's cross-engine safety rests on two margins:
    every step's meter value sits away from a round-half .5 boundary,
    and every bearing sits away from a 45° octant boundary (except
    EXACT boundaries, which both engines compute identically from
    exact-zero atan2 arguments).  Measure both on the gate corpus."""
    import duckdb

    from transformio_spark.functions.geo import bearing_deg_sql, haversine_km_sql
    from transformio_spark.plans import oracles as o
    from transformio_spark.sources.oracle import points_cte
    from transformio_spark.plans.queries import N_TRACKS

    con = duckdb.connect()
    for t in ["lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    d_m = f"({haversine_km_sql('plon', 'plat', 'lon', 'lat')} * 1000.0e0)"
    b = bearing_deg_sql("plon", "plat", "lon", "lat")
    row = con.sql(f"""
WITH {points_cte()},
tracked AS (
  SELECT doc_num % {N_TRACKS} AS track_id, doc_num, span_pos, lon, lat FROM pts
),
stepped AS (
  SELECT track_id, doc_num, span_pos, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM tracked WINDOW w AS (PARTITION BY track_id ORDER BY doc_num, span_pos)
)
SELECT plon, plat, lon, lat, {d_m} AS d_m, {b} AS b_deg
FROM stepped WHERE plon IS NOT NULL
ORDER BY track_id, doc_num, span_pos
""").df()
    assert len(row) > 100
    import numpy as np
    from pyspark.sql import functions as F

    s = (
        spark.createDataFrame(row[["plon", "plat", "lon", "lat"]])
        .select(F.expr(d_m).alias("d_m"), F.expr(b).alias("b_deg"))
        .toPandas()
    )
    # Per-step cross-engine drift vs per-step distance to the nearest
    # discretization boundary: a gate value can only move if SOME step's
    # drift exceeds ITS OWN margin.  Exact boundaries (margin 0, e.g.
    # bearing exactly 0° from atan2 of exact-zero args) must show zero
    # drift — both engines compute them identically.
    d_m_d, d_m_s = row["d_m"].values, s["d_m"].values
    drift = np.abs(d_m_d - d_m_s)
    margin = np.abs(d_m_d - np.floor(d_m_d) - 0.5)
    assert (drift < np.maximum(margin, 1e-12) * 1e-2).all(), (
        drift.max(), margin[drift.argmax()])
    b_d, b_s = row["b_deg"].values, s["b_deg"].values
    bdrift = np.abs(b_d - b_s)
    brem = b_d % 45.0
    bmargin = np.minimum(brem, 45.0 - brem)
    on_boundary = brem == 0.0
    assert (bdrift[on_boundary] == 0.0).all()
    off = ~on_boundary
    assert (bdrift[off] < np.maximum(bmargin[off], 1e-12) * 1e-2).all(), (
        bdrift[off].max(), bmargin[off][bdrift[off].argmax()])


def test_grid_dbscan_shapes(spark):
    """Two L-shaped blobs joined only diagonally, an isolated core
    cell, and sub-threshold noise: cluster membership, bbox, point
    sums, and noise exclusion are all pinned by hand."""
    from pyspark.sql import functions as F

    from transformio_spark.operators.grid import grid_dbscan

    rows = [
        # blob A: (0,0),(1,0),(1,1) — L, 8-connected
        (0, 0, 5), (1, 0, 3), (1, 1, 4),
        # diagonal bridge cell (2,2) connects blob A to blob B
        (2, 2, 3),
        # blob B: (3,3),(3,4)
        (3, 3, 6), (3, 4, 3),
        # isolated core far away
        (10, 10, 9),
        # noise: below min_pts, adjacent to blob A
        (0, 1, 2),
    ]
    cells = spark.createDataFrame(rows, "tx long, ty long, n long")
    got = {
        r["cluster_id"]: r.asDict()
        for r in grid_dbscan(cells, min_pts=3, width=100).collect()
    }
    # one merged cluster (diagonal chain) with min cell_id 0*100+0=0,
    # one singleton at 10*100+10=1010
    assert set(got) == {0, 1010}
    big = got[0]
    assert big["n_cells"] == 6
    assert big["n_points"] == 5 + 3 + 4 + 3 + 6 + 3
    assert (big["tx_min"], big["tx_max"], big["ty_min"], big["ty_max"]) == (0, 3, 0, 4)
    lone = got[1010]
    assert lone["n_cells"] == 1 and lone["n_points"] == 9

    # raising min_pts to 4 drops the bridge and blob fringes: core
    # cells are (0,0) n=5, (1,1) n=4 (diagonal pair -> one cluster),
    # (3,3) n=6 and (10,10) n=9 as singletons
    got2 = {
        r["cluster_id"]: r.asDict()
        for r in grid_dbscan(cells, min_pts=4, width=100).collect()
    }
    assert set(got2) == {0, 3 * 100 + 3, 1010}
    assert got2[0]["n_cells"] == 2 and got2[0]["n_points"] == 9
    assert got2[3 * 100 + 3]["n_cells"] == 1


def _bisection_geohash(lon, lat, precision):
    """Independent third implementation: classic iterative bisection
    (the encoding's defining algorithm) on e4-snapped coords."""
    from transformio_spark.functions.tiles import GEOHASH_B32

    lon = round(lon * 1e4) / 1e4
    lat = round(lat * 1e4) / 1e4
    lo1, hi1, lo2, hi2 = -180.0, 180.0, -90.0, 90.0
    bits = []
    even = True
    while len(bits) < 5 * precision:
        if even:
            mid = (lo1 + hi1) / 2
            bits.append(1 if lon >= mid else 0)
            lo1, hi1 = (mid, hi1) if lon >= mid else (lo1, mid)
        else:
            mid = (lo2 + hi2) / 2
            bits.append(1 if lat >= mid else 0)
            lo2, hi2 = (mid, hi2) if lat >= mid else (lo2, mid)
        even = not even
    out = ""
    for j in range(precision):
        v = 0
        for b in bits[5 * j:5 * j + 5]:
            v = v * 2 + b
        out += GEOHASH_B32[v]
    return out


def test_geohash_three_way_and_published_vectors(spark):
    """Column builder == SQL-text twin == iterative bisection on
    random + boundary points at every precision parity, and the
    published test vectors hold."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from transformio_spark.functions.tiles import geohash, geohash_sql

    rng = np.random.default_rng(23)
    pts = pd.DataFrame({
        "lon": np.concatenate([
            rng.uniform(-180, 179.9999, 300),
            [-180.0, 0.0, 90.0, -90.0, 179.9999, 0.0001, -0.0001],
        ]),
        "lat": np.concatenate([
            rng.uniform(-90, 89.9999, 300),
            [-90.0, 0.0, 45.0, -45.0, 89.9999, 0.0001, -0.0001],
        ]),
    })
    sdf = spark.createDataFrame(pts)
    con = duckdb.connect()
    con.register("t", pts)
    for prec in (1, 4, 5, 6):
        s = (
            sdf.select(geohash(F.col("lon"), F.col("lat"), prec).alias("g"))
            .toPandas()["g"].tolist()
        )
        d = con.sql(
            f"SELECT {geohash_sql('lon', 'lat', prec)} g FROM t"
        ).df()["g"].tolist()
        w = [_bisection_geohash(a, b, prec) for a, b in zip(pts.lon, pts.lat)]
        assert s == w, f"Column path diverges at precision {prec}"
        assert d == w, f"SQL path diverges at precision {prec}"
    # published vectors (geohash.org / Niemeyer): ezs42, u4pruy prefix
    vec = pd.DataFrame({"lon": [-5.6, 10.40744], "lat": [42.6, 57.64911]})
    got = (
        spark.createDataFrame(vec)
        .select(geohash(F.col("lon"), F.col("lat"), 5).alias("g"))
        .toPandas()["g"].tolist()
    )
    assert got == ["ezs42", "u4pru"]


def test_geohash_val_order_matches_string_order(spark):
    """Round 6: q_geohash_counts groups/ranks on the geohash INTEGER
    and renders only the surviving rows.  That is exact because (a)
    geohash == geohash_from_val(geohash_val) by construction, and (b)
    the base-32 alphabet is ASCII-ascending, so fixed-precision
    geohash strings order exactly like their integers — both pinned
    here, plus a corpus-scale cross-check of the two query forms."""
    from pyspark.sql import functions as F

    from transformio_spark.functions.tiles import (
        GEOHASH_B32,
        geohash,
        geohash_from_val,
        geohash_val,
    )

    # (b) alphabet monotonicity — the load-bearing ordering argument
    assert list(GEOHASH_B32) == sorted(GEOHASH_B32)

    rng = np.random.default_rng(31)
    import pandas as pd

    pts = pd.DataFrame({
        "lon": rng.uniform(-180, 179.9999, 500),
        "lat": rng.uniform(-90, 89.9999, 500),
    })
    sdf = spark.createDataFrame(pts)
    both = sdf.select(
        geohash(F.col("lon"), F.col("lat"), 5).alias("g"),
        geohash_from_val(
            geohash_val(F.col("lon"), F.col("lat"), 5), 5
        ).alias("g2"),
        geohash_val(F.col("lon"), F.col("lat"), 5).alias("v"),
    ).toPandas()
    assert (both.g == both.g2).all()
    order_by_str = both.sort_values("g").index.tolist()
    order_by_val = both.sort_values("v").index.tolist()
    assert order_by_str == order_by_val


def test_gc_interpolate_properties(spark):
    """Slerp pins: f=0 and f=1 return the endpoints; the midpoint is
    equidistant from both ends; waypoints lie ON the great circle
    (distance(p1,w) + distance(w,p2) == distance(p1,p2)); the
    degenerate coincident pair returns itself; and Spark/DuckDB agree
    on the shared text to float ulps."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from transformio_spark.functions.geo import gc_interpolate_sql, haversine_km_sql

    rng = np.random.default_rng(31)
    df = pd.DataFrame({
        "lon0": np.concatenate([rng.uniform(-179, 179, 300), [12.5]]),
        "lat0": np.concatenate([rng.uniform(-84, 84, 300), [-33.25]]),
        "lon1": np.concatenate([rng.uniform(-179, 179, 300), [12.5]]),
        "lat1": np.concatenate([rng.uniform(-84, 84, 300), [-33.25]]),
        "fv": np.concatenate([rng.uniform(0, 1, 300), [0.5]]),
    })
    glon, glat = gc_interpolate_sql("lon0", "lat0", "lon1", "lat1", "fv")
    d01 = haversine_km_sql("lon0", "lat0", "lon1", "lat1")
    d0w = haversine_km_sql("lon0", "lat0", "wlon", "wlat")
    dw1 = haversine_km_sql("wlon", "wlat", "lon1", "lat1")
    con = duckdb.connect()
    con.register("t", df)
    out = con.sql(f"""
WITH w AS (SELECT *, {glon} AS wlon, {glat} AS wlat FROM t)
SELECT wlon, wlat, {d01} AS d01, {d0w} AS d0w, {dw1} AS dw1, fv FROM w
""").df()
    # on-arc additivity + fractional split
    np.testing.assert_allclose(out.d0w + out.dw1, out.d01, atol=1e-6)
    np.testing.assert_allclose(out.d0w, out.fv * out.d01, atol=1e-6)
    # degenerate pair → itself
    assert out.wlon.iloc[-1] == 12.5 and out.wlat.iloc[-1] == -33.25
    # endpoints at f=0 / f=1
    df2 = df.assign(fv=0.0)
    con.register("t2", df2)
    e0 = con.sql(f"SELECT {glon} AS wlon, {glat} AS wlat FROM t2").df()
    np.testing.assert_allclose(e0.wlon, df2.lon0, atol=1e-9)
    np.testing.assert_allclose(e0.wlat, df2.lat0, atol=1e-9)
    # cross-engine agreement on the identical text
    s = (
        spark.createDataFrame(df)
        .select(F.expr(glon).alias("wlon"), F.expr(glat).alias("wlat"))
        .toPandas()
    )
    np.testing.assert_allclose(s.wlon.values, out.wlon.values, atol=1e-9)
    np.testing.assert_allclose(s.wlat.values, out.wlat.values, atol=1e-9)


def test_gc_waypoint_gate_margins(spark, sf_dir):
    """Same per-row drift-vs-margin property as the trajectory gate:
    each waypoint's e4-lattice snap (inside tile_xy) must sit further
    from its .5 rounding boundary than the cross-engine drift of THAT
    waypoint's coordinates."""
    import duckdb
    from pyspark.sql import functions as F

    from transformio_spark.functions.geo import gc_interpolate_sql
    from transformio_spark.sources import synthspec
    from transformio_spark.plans.queries import WAYPOINT_FRACTIONS

    e = synthspec.point_exprs_sql("doc_num")
    glon, glat = gc_interpolate_sql("lon0", "lat0", "lon1", "lat1", "fv")
    fracs = ", ".join(f"cast({f!r} as double)" for f in WAYPOINT_FRACTIONS)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    d = con.sql(f"""
WITH ids AS (SELECT (l_orderkey * 8 + l_linenumber) AS doc_num FROM lineitem),
paired AS (
    SELECT round({e['lon']}, 4) AS lon0, round({e['lat']}, 4) AS lat0,
           {e['lon2']} AS lon1, {e['lat2']} AS lat1
    FROM ids WHERE {e['has_second']}
),
t AS (SELECT p.*, f.fv FROM paired p, (SELECT unnest([{fracs}]) AS fv) f)
SELECT lon0, lat0, lon1, lat1, fv, {glon} AS wlon, {glat} AS wlat FROM t
ORDER BY lon0, lat0, lon1, lat1, fv
""").df()
    assert len(d) > 300
    s = (
        spark.createDataFrame(d[["lon0", "lat0", "lon1", "lat1", "fv"]])
        .select(F.expr(glon).alias("wlon"), F.expr(glat).alias("wlat"))
        .toPandas()
    )
    for col in ("wlon", "wlat"):
        v = d[col].values * 1e4
        drift = np.abs(d[col].values - s[col].values) * 1e4
        margin = np.abs(v - np.floor(v) - 0.5)
        assert (drift < np.maximum(margin, 1e-12) * 1e-2).all(), (
            col, drift.max(), margin[drift.argmax()])


def test_pii_redaction_is_complete_and_cross_engine(spark):
    """Redaction property: re-scanning redacted text finds ZERO hits
    on BOTH engines (replacement tokens don't re-match patterns), and
    per-row Spark (Java regex) == DuckDB (RE2) on detection counts and
    redacted text for a hand-built corpus covering each PII kind,
    multiples, adjacency, and non-PII lookalikes."""
    import duckdb
    from pyspark.sql import functions as F

    from transformio_spark.functions import text as T

    corpus = [
        "plain words only",
        "mail a.b-c_d%x+y@sub.domain-x.org and Z9@q.io twice",
        "call +1-415-555-0123 or +44-208-7946-0958 now",
        "hosts 10.0.0.1 192.168.255.250 1.2.3.4",
        "mixed bob@x.co at 10.1.2.3 dial +1-212-555-9999",
        "not pii: 1.2.3 or v1.2.3.4beta or user@@double.at",
        "adjacent a@b.de10.0.0.5",
    ]
    sdf = (
        spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, t string")
        .select(
            "i",
            *[c.alias(k) for k, c in T.pii_counts(F.col("t")).items()],
            T.pii_redact(F.col("t")).alias("red"),
        )
    )
    srows = {r.i: (r.n_emails, r.n_phones, r.n_ips, r.red) for r in sdf.collect()}
    # re-scan of redacted text is clean (Spark side)
    rescan = sdf.select(
        *[c.alias(k) for k, c in T.pii_counts(F.col("red")).items()]
    ).collect()
    assert all(r.n_emails == r.n_phones == r.n_ips == 0 for r in rescan)

    con = duckdb.connect()
    con.execute("CREATE TABLE c (i int, t varchar)")
    con.executemany("INSERT INTO c VALUES (?, ?)", list(enumerate(corpus)))
    cnts = T.pii_counts_sql("t")
    drows = {
        i: (ne, np_, ni, red)
        for i, ne, np_, ni, red in con.execute(
            f"SELECT i, {cnts['n_emails']}, {cnts['n_phones']}, {cnts['n_ips']},"
            f" {T.pii_redact_sql('t')} FROM c ORDER BY i"
        ).fetchall()
    }
    assert srows == drows
    # at least one hit of each kind in the corpus (non-degenerate)
    tot = [sum(v[k] for v in srows.values()) for k in range(3)]
    assert all(t >= 2 for t in tot), tot
