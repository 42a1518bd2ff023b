"""Analytic world-projection backends (kernels/projections.py).

Covers the reference's projection test surface (reference
tests/test_image_projections.py:24-46: Robinson ESRI:54030, Mollweide
ESRI:54009, Van der Grinten ESRI:54029, Arctic/Antarctic polar
stereographic EPSG:3995/3031) without pyproj — public Snyder / EPSG
GN7-2 formulas, verified by published anchors, roundtrips, and the
real satellite fixture end-to-end through warp.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ref_loader import needs_file
from transformio_spark.kernels import projections as pj
from transformio_spark.kernels import transforms as kt
from transformio_spark.kernels import warp as kwarp
from transformio_spark.sources.worldfile import read_worldfile

FIXDIR = "/root/reference/tests/data"
_LAND = f"{FIXDIR}/land_shallow_topo_2048"
needs_land = needs_file(f"{_LAND}.tif", f"{_LAND}.wld")
R = pj.R_SPHERE
LONGLAT = "+proj=longlat +datum=WGS84 +no_defs "  # the reference's fromcrs

GRID_LON = np.linspace(-179.5, 179.5, 211)
GRID_LAT = np.linspace(-89.5, 89.5, 211)


# ---------------------------------------------------------------------------
# kernel anchors + roundtrips
# ---------------------------------------------------------------------------

def test_mollweide_anchors():
    # (0,0) -> (0,0); poles -> (0, +-sqrt(2) R); equator x = 2*sqrt(2)*R*lam/pi
    x, y = pj.mollweide_forward(0.0, 0.0)
    assert x == 0.0 and y == 0.0
    # poles are special-cased in all three twins (the Newton fixed
    # point stalls ~6e-6 rad short of theta'=pi; advisor fix): y is
    # exactly +-sqrt(2)R and even (180, 90) maps to |x| < 1e-8 m
    # (cos(pi/2) = 6.1e-17 in doubles), not the former ~113 m
    x, y = pj.mollweide_forward(0.0, 90.0)
    assert abs(float(x)) < 1e-8 and float(y) == math.sqrt(2.0) * R
    x, y = pj.mollweide_forward(180.0, 90.0)
    assert abs(float(x)) < 1e-8 and float(y) == math.sqrt(2.0) * R
    x, y = pj.mollweide_forward(-180.0, -90.0)
    assert abs(float(x)) < 1e-8 and float(y) == -math.sqrt(2.0) * R
    x, y = pj.mollweide_forward(180.0, 0.0)
    assert x == pytest.approx(2 * math.sqrt(2) * R, rel=1e-12)
    # the defining equation 2*theta + sin(2*theta) = pi*sin(lat) holds
    x, y = pj.mollweide_forward(45.0, 50.0)
    th = math.asin(float(y) / (math.sqrt(2) * R))
    assert 2 * th + math.sin(2 * th) == pytest.approx(
        math.pi * math.sin(math.radians(50.0)), abs=1e-12
    )


def test_mollweide_fixed_iteration_is_converged():
    """MOLL_NEWTON_ITERS reaches a double fixed point: more iterations
    change nothing, anywhere (incl. the poles)."""
    lat = np.concatenate([GRID_LAT, [-90.0, 90.0, 89.9999, -89.9999]])
    lon = np.zeros_like(lat)
    _, y30 = pj.mollweide_forward(lon, lat)
    orig = pj.MOLL_NEWTON_ITERS
    try:
        pj.MOLL_NEWTON_ITERS = 60
        _, y60 = pj.mollweide_forward(lon, lat)
    finally:
        pj.MOLL_NEWTON_ITERS = orig
    assert_equal = np.testing.assert_array_equal
    assert_equal(y30, y60)


def test_robinson_table_nodes_exact():
    # at table latitudes the spline interpolates exactly
    x, y = pj.robinson_forward(100.0, 45.0)
    assert x == pytest.approx(0.8487 * R * 0.8962 * math.radians(100.0), rel=1e-12)
    assert y == pytest.approx(1.3523 * R * 0.5571, rel=1e-12)
    x, y = pj.robinson_forward(180.0, 0.0)
    assert x == pytest.approx(0.8487 * R * math.pi, rel=1e-12)
    assert y == 0.0
    x, y = pj.robinson_forward(0.0, -90.0)
    assert y == pytest.approx(-1.3523 * R, rel=1e-12)


def test_vandergrinten_anchors():
    # equator is true-scale: x = R*lam; poles at y = +-pi*R
    x, y = pj.vandergrinten_forward(90.0, 0.0)
    assert x == pytest.approx(R * math.pi / 2, rel=1e-12) and y == 0.0
    x, y = pj.vandergrinten_forward(30.0, 90.0)
    assert x == 0.0 and y == pytest.approx(math.pi * R, rel=1e-12)
    x, y = pj.vandergrinten_forward(-60.0, -90.0)
    assert y == pytest.approx(-math.pi * R, rel=1e-12)


def test_polar_stereographic_epsg_worked_example():
    """EPSG Guidance Note 7-2 §3.2.4 variant B worked example
    (WGS 84 / Australian Antarctic Polar Stereographic): lat_ts=-71,
    lon0=70, FE=FN=6000000; (120E, 75S) -> E 7255380.79 N 7053389.56."""
    E, N = pj.polar_stereographic_forward(
        120.0, -75.0, lat_ts=-71.0, lon0=70.0, fe=6_000_000.0, fn=6_000_000.0
    )
    assert E == pytest.approx(7255380.79, abs=0.01)
    assert N == pytest.approx(7053389.56, abs=0.01)
    lon, lat = pj.polar_stereographic_inverse(
        E, N, lat_ts=-71.0, lon0=70.0, fe=6_000_000.0, fn=6_000_000.0
    )
    assert lon == pytest.approx(120.0, abs=1e-9)
    assert lat == pytest.approx(-75.0, abs=1e-9)


def test_polar_stereographic_poles_and_true_scale():
    for lat_ts in (71.0, -71.0):
        pole = 90.0 if lat_ts > 0 else -90.0
        E, N = pj.polar_stereographic_forward(0.0, pole, lat_ts=lat_ts)
        assert E == 0.0 and N == 0.0
        # scale factor ~= 1 along the standard parallel (finite diff)
        d = 1e-6
        E1, N1 = pj.polar_stereographic_forward(0.0, lat_ts - d, lat_ts=lat_ts)
        E2, N2 = pj.polar_stereographic_forward(0.0, lat_ts + d, lat_ts=lat_ts)
        ground = np.radians(2 * d) * pj.A_WGS84 * (
            (1 - pj.F_WGS84) ** 2
            / (1 - (2 * pj.F_WGS84 - pj.F_WGS84**2) * np.sin(np.radians(lat_ts)) ** 2)
            ** 1.5
        )
        grid = math.hypot(float(E2 - E1), float(N2 - N1))
        assert grid / ground == pytest.approx(1.0, rel=1e-6)


@pytest.mark.parametrize(
    "code",
    [
        "ESRI:54009", "ESRI:54030", "ESRI:54029", "EPSG:3995", "EPSG:3031",
        "EPSG:5939",
    ],
)
def test_projection_roundtrip(code):
    fwd_maker, inv_maker = pj.ANALYTIC_PROJECTIONS[code]
    fwd, inv = fwd_maker(), inv_maker()
    x, y = fwd.transform(GRID_LON, GRID_LAT)
    lon, lat = inv.transform(x, y)
    np.testing.assert_allclose(lon, GRID_LON, atol=1e-9)
    np.testing.assert_allclose(lat, GRID_LAT, atol=1e-9)


# ---------------------------------------------------------------------------
# MapProjection registry integration
# ---------------------------------------------------------------------------

def test_map_projection_accepts_reference_crs_specs():
    """The exact (fromcrs, tocrs) pairs the reference's projection
    tests pass (proj4 longlat string + lowercase authority codes)
    resolve to analytic backends without pyproj."""
    for code in (
        "esri:54030", "esri:54009", "esri:54029", "epsg:3995", "epsg:3031",
        "epsg:5939",
    ):
        mp = kt.MapProjection(LONGLAT, code)
        x, y = mp.predict(GRID_LON, GRID_LAT)
        lon, lat = mp.inverse().predict(x, y)
        np.testing.assert_allclose(lon, GRID_LON, atol=1e-9)
        np.testing.assert_allclose(lat, GRID_LAT, atol=1e-9)
        # JSON IR roundtrip keeps the backend
        js = mp.to_json()
        again = kt.MapProjection.from_json(js)
        x2, y2 = again.predict(GRID_LON[:5], GRID_LAT[:5])
        np.testing.assert_array_equal(x[:5], x2)


def test_unknown_pair_still_raises_without_pyproj():
    try:
        import pyproj  # noqa: F401

        pytest.skip("pyproj present")
    except ImportError:
        pass
    # UTM 33N gained an analytic backend in round 5 — the canonical
    # "unsupported" example is now a Lambert conformal conic code
    x, _ = kt.MapProjection(LONGLAT, "epsg:32633").predict([15.0], [0.0])
    assert x[0] == 500000.0
    with pytest.raises(ImportError, match="pyproj"):
        kt.MapProjection(LONGLAT, "EPSG:2154")  # RGF93 / Lambert-93


def test_norway_polar_stereographic_epsg5939():
    """WGS 84 / EPSG Norway Polar Stereographic from published
    registry parameters (variant B: lat_ts=71N, lon_0=18E,
    FE=FN=2e6).  The projection machinery itself is anchored by the
    GN7-2 worked example above; here: the pole maps to the false
    origin, the central meridian maps to grid-north (E=FE, N<FN on
    the near side), and the zone equals EPSG:3995 with the longitude
    of origin rotated and the false offsets applied."""
    fwd = pj.ANALYTIC_PROJECTIONS["EPSG:5939"][0]()
    E, N = fwd.transform(np.array([123.0]), np.array([90.0]))
    assert E[0] == pytest.approx(2_000_000.0, abs=1e-6)
    assert N[0] == pytest.approx(2_000_000.0, abs=1e-6)
    E, N = fwd.transform(np.array([18.0]), np.array([71.0]))
    assert E[0] == pytest.approx(2_000_000.0, abs=1e-6)
    assert N[0] < 2_000_000.0  # lam=0 -> N = FN - rho
    lon = np.linspace(-180.0, 180.0, 41)
    lat = np.linspace(60.0, 89.0, 41)
    E5, N5 = fwd.transform(lon, lat)
    E3, N3 = pj.polar_stereographic_forward(lon - 18.0, lat, lat_ts=71.0)
    np.testing.assert_allclose(E5, E3 + 2_000_000.0, rtol=0, atol=1e-6)
    np.testing.assert_allclose(N5, N3 + 2_000_000.0, rtol=0, atol=1e-6)


# ---------------------------------------------------------------------------
# Spark and DuckDB forms (Mollweide Newton solve)
# ---------------------------------------------------------------------------

def _grid_df(spark):
    return spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(GRID_LON, GRID_LAT)],
        "lon double, lat double",
    )


def _mollweide_staged(df):
    """df with x/y = the engine's staged Mollweide forward."""
    from transformio_spark.operators import compiler

    moll = kt.MapProjection("EPSG:4326", "ESRI:54009")
    return compiler.with_transformed_columns(df, moll, out_x="x", out_y="y")


def test_mollweide_column_twin_matches_kernel(spark):
    """The engine's staged Spark SQL form matches the numpy kernel."""
    kx, ky = pj.mollweide_forward(GRID_LON, GRID_LAT)
    pdf = _mollweide_staged(_grid_df(spark)).select("x", "y").toPandas()
    # JVM libm ulp differences through 30 Newton steps: nanometer scale
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)


def test_mollweide_staged_bit_equal_to_fold(spark):
    """The chained-projection Newton unroll (compiler staged path)
    must be BIT-equal to a Spark SQL ``aggregate`` fold of the same
    step — same op order, same 30 steps, only the physical execution
    differs.  The fold is written here as the reference."""
    from transformio_spark.kernels.projections import MOLL_NEWTON_ITERS, R_SPHERE

    pi = "3.141592653589793e0"
    c = f"({pi} * sin(radians(lat)))"
    thp = (
        f"aggregate(array_repeat(0.0e0, {MOLL_NEWTON_ITERS}), "
        f"cast(radians(lat) as double), "
        f"(acc, _) -> acc - (acc + sin(acc) - {c}) / (1.0e0 + cos(acc)))"
    )
    th = (
        f"((CASE WHEN {c} = {pi} THEN {pi} WHEN {c} = -{pi} THEN -{pi} "
        f"ELSE {thp} END) / 2.0e0)"
    )
    xs = 2.0 * 2.0 ** 0.5 / 3.141592653589793 * R_SPHERE
    ys = 2.0 ** 0.5 * R_SPHERE
    df = _grid_df(spark)
    fold = df.selectExpr(
        "lon", "lat",
        f"cast({xs!r} as double) * radians(lon) * cos({th}) AS x",
        f"cast({ys!r} as double) * sin({th}) AS y",
    ).toPandas()
    staged = _mollweide_staged(df).select("lon", "lat", "x", "y").toPandas()
    assert (fold.x.values == staged.x.values).all()
    assert (fold.y.values == staged.y.values).all()


def test_mollweide_sql_twin_bit_equal_to_kernel():
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    kx, ky = pj.mollweide_forward(GRID_LON, GRID_LAT)
    sx, sy = geo.mollweide_forward_sql("lon", "lat")
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": GRID_LON, "lat": GRID_LAT}))
    d = con.sql(f"select {sx} as x, {sy} as y from pts").df()
    np.testing.assert_array_equal(d.x.values, kx)
    np.testing.assert_array_equal(d.y.values, ky)


def test_mollweide_inverse_column_twin_roundtrip(spark):
    """Staged forward then the inverse SQL text, in Spark."""
    from transformio_spark.functions import geo

    bx, by = geo.mollweide_inverse_sql("x", "y")
    pdf = _mollweide_staged(_grid_df(spark)).selectExpr(
        f"{bx} AS lon2", f"{by} AS lat2"
    ).toPandas()
    np.testing.assert_allclose(pdf.lon2.values, GRID_LON, atol=1e-9)
    np.testing.assert_allclose(pdf.lat2.values, GRID_LAT, atol=1e-9)
    # kernel parity
    kx, ky = pj.mollweide_forward(GRID_LON, GRID_LAT)
    klon, klat = pj.mollweide_inverse(kx, ky)
    np.testing.assert_allclose(pdf.lon2.values, klon, atol=1e-9)
    np.testing.assert_allclose(pdf.lat2.values, klat, atol=1e-9)


def test_mollweide_chain_compiles_to_pure_codegen(spark):
    from transformio_spark.operators import compiler

    df = spark.range(100).select(
        (F.col("id") * 3.0 - 150.0).alias("lon"),
        (F.col("id") * 1.5 - 75.0).alias("lat"),
    )
    model = kt.Chain([kt.MapProjection("EPSG:4326", "ESRI:54009")])
    out = compiler.with_transformed_columns(df, model, x="lon", y="lat")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# the reference's test_image_projections flow on the real fixture
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def land_im():
    from transformio_spark.kernels import tiff

    with open(f"{FIXDIR}/land_shallow_topo_2048.tif", "rb") as f:
        return tiff.decode_tiff(f.read())


# self-goldens: adler32 of the warped RGBA output, pinned so
# projection-kernel regressions are caught bit-level.  alpha_frac is
# the fraction of output pixels covered — for Mollweide and Van der
# Grinten the world fills an ellipse/circle in its bounding box, so
# the analytic expectation is exactly pi/4.
_WARP_GOLDEN = {
    "esri:54030": (3999329602, 0.873),
    "esri:54009": (1924531623, 0.784),
    "esri:54029": (2810491319, 0.784),
}
# polar stereographic degenerates at the opposite pole (t -> inf), so
# like the reference's web-Mercator clip the test warps an explicit
# polar-cap extent (the reference's own 3995/3031 tests only save the
# auto-bounds output to disk, asserting nothing about it)
_POLAR_GOLDEN = {"epsg:3995": 1252176854, "epsg:3031": 1814682708}


@needs_land
@pytest.mark.parametrize("tocrs", sorted(_WARP_GOLDEN))
def test_world_satellite_reprojection(tocrs, land_im):
    """reference tests/test_image_projections.py:16-22 end-to-end:
    fitbounds affine + MapProjection chain through warp on the real
    satellite TIFF (auto image bounds, like the reference)."""
    golden, alpha_frac = _WARP_GOLDEN[tocrs]
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    proj = kt.MapProjection(LONGLAT, tocrs)
    out, a6 = kwarp.warp(land_im, kt.Chain([aff, proj]), size=(256, 128))
    assert out.shape == (128, 256, 4)
    assert np.isfinite(a6).all()
    assert out[..., 3].mean() / 255 == pytest.approx(alpha_frac, abs=0.01)
    assert zlib.adler32(out.tobytes()) == golden


@needs_land
@pytest.mark.parametrize("tocrs", sorted(_POLAR_GOLDEN))
def test_polar_satellite_reprojection(tocrs, land_im):
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    proj = kt.MapProjection(LONGLAT, tocrs)
    b = 4_500_000.0
    out, a6 = kwarp.warp(
        land_im, kt.Chain([aff, proj]), size=(256, 256), bounds=[-b, -b, b, b]
    )
    assert out.shape == (256, 256, 4)
    assert a6[:3] == [35156.25, 0, -4_500_000.0]
    assert out[..., 3].mean() / 255 > 0.99
    assert zlib.adler32(out.tobytes()) == _POLAR_GOLDEN[tocrs]


@needs_land
def test_norway_polar_satellite_reprojection(land_im):
    """reference tests/test_image_projections.py:44-46
    (TestWorldNorwayPolar, tocrs epsg:5939) end-to-end on the real
    satellite TIFF — polar cap centered on the zone's false origin."""
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    proj = kt.MapProjection(LONGLAT, "epsg:5939")
    b, c = 4_500_000.0, 2_000_000.0
    out, a6 = kwarp.warp(
        land_im, kt.Chain([aff, proj]), size=(256, 256),
        bounds=[c - b, c - b, c + b, c + b],
    )
    assert out.shape == (256, 256, 4)
    assert a6[:3] == [35156.25, 0, -2_500_000.0]
    # the inverse's antimeridian wrap keeps the far side of the cap
    # populated (alpha ~0.999; it read 0.957 before the wrap fix)
    assert out[..., 3].mean() / 255 > 0.99
    assert zlib.adler32(out.tobytes()) == 3876240044


# ---------------------------------------------------------------------------
# proj4-string backends (README forms) + orthographic
# ---------------------------------------------------------------------------

def test_parse_proj4():
    p = pj.parse_proj4("+proj=ortho +lat_0=-10 +lon_0=30 +x_0=30 +y_0=-10")
    assert p["proj"] == "ortho" and p["lat_0"] == -10.0 and p["x_0"] == 30.0
    # the README's malformed trailing token (no '+' on no_defs) parses
    p = pj.parse_proj4(
        "+proj=robin +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m no_defs"
    )
    assert p["proj"] == "robin" and p["no_defs"] is True
    assert pj.parse_proj4("epsg:4326") is None


def test_readme_robin_proj4_string_matches_esri_code():
    """reference README.md:139-141 passes Robinson as a proj4 string;
    it must resolve analytically and agree bit-for-bit with the
    ESRI:54030 backend (default parameters)."""
    mp = kt.MapProjection(
        LONGLAT,
        "+proj=robin +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m no_defs",
    )
    ref = kt.MapProjection(LONGLAT, "esri:54030")
    x1, y1 = mp.predict(GRID_LON, GRID_LAT)
    x2, y2 = ref.predict(GRID_LON, GRID_LAT)
    np.testing.assert_array_equal(x1, x2)
    np.testing.assert_array_equal(y1, y2)


def test_orthographic_anchors_and_visibility():
    # center maps to origin; due-north offset is R*sin(dlat)
    x, y = pj.orthographic_forward(30.0, -10.0, lat0=-10.0, lon0=30.0)
    assert x == 0.0 and y == 0.0
    x, y = pj.orthographic_forward(30.0, 0.0, lat0=-10.0, lon0=30.0)
    assert x == pytest.approx(0.0, abs=1e-9)
    assert y == pytest.approx(R * math.sin(math.radians(10.0)), rel=1e-12)
    # the antipode is hidden -> NaN
    x, y = pj.orthographic_forward(-150.0, 10.0, lat0=-10.0, lon0=30.0)
    assert np.isnan(x) and np.isnan(y)


def test_orthographic_roundtrip_visible_hemisphere():
    lon, lat = np.meshgrid(np.linspace(-180, 180, 73), np.linspace(-89, 89, 45))
    lon, lat = lon.ravel(), lat.ravel()
    x, y = pj.orthographic_forward(lon, lat, lat0=-10.0, lon0=30.0)
    vis = ~np.isnan(x)
    assert 0.4 < vis.mean() < 0.6  # half the globe is visible
    lon2, lat2 = pj.orthographic_inverse(x[vis], y[vis], lat0=-10.0, lon0=30.0)
    dlon = (lon2 - lon[vis] + 180.0) % 360.0 - 180.0
    np.testing.assert_allclose(dlon, 0.0, atol=1e-7)
    np.testing.assert_allclose(lat2, lat[vis], atol=1e-7)


def test_readme_globe_multipoint_doctest_flow():
    """reference README.md:461-476: a 10-degree MultiPoint grid
    through the ortho proj4 transform — hidden-hemisphere points drop
    via the NaN semantics, visible ones survive."""
    from transformio_spark.kernels import vector

    points = [(x, y) for y in range(-90, 90, 10) for x in range(-180, 181, 10)]
    geoj = {"type": "MultiPoint", "coordinates": points}
    trans = kt.MapProjection(
        "+proj=longlat +datum=WGS84 +no_defs",
        "+proj=ortho +lat_0=-10 +lon_0=30 +x_0=30 +y_0=-10",
    )
    out = vector.transform(geoj, trans)
    lon, lat = np.array(points).T
    x, _ = pj.orthographic_forward(lon, lat, lat0=-10.0, lon0=30.0)
    n_visible = int((~np.isnan(x)).sum())
    assert len(out["coordinates"]) == n_visible
    assert 0 < n_visible < len(points)
    # x_0/y_0 offsets applied
    xs = np.array([p[0] for p in out["coordinates"]])
    assert np.isfinite(xs).all()


@needs_land
def test_globe_logo_warp_flow(land_im):
    """create_logo.py's flow: world PNG -> fitbounds -> ortho warp.
    The output is the visible disc (area fraction ~ pi/4 of its
    bounding square)."""
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    proj = kt.MapProjection(
        "+proj=longlat +datum=WGS84 +no_defs",
        "+proj=ortho +lat_0=0 +lon_0=30 +x_0=30 +y_0=0",
    )
    out, a6 = kwarp.warp(land_im, kt.Chain([aff, proj]), size=(200, 200))
    assert out.shape == (200, 200, 4)
    assert out[..., 3].mean() / 255 == pytest.approx(math.pi / 4, abs=0.02)


def test_proj4_unsupported_parameter_is_loud():
    with pytest.raises(ValueError, match="not supported"):
        kt.MapProjection(LONGLAT, "+proj=moll +lon_0=0 +R_A")


def test_proj4_merc_matches_spherical_mercator_backend():
    """EPSG:3857's proj4 form resolves to the same arithmetic as the
    EPSG-code spherical-Mercator backend."""
    mp = kt.MapProjection(
        LONGLAT,
        "+proj=merc +a=6378137 +b=6378137 +lat_ts=0.0 +lon_0=0.0 "
        "+x_0=0.0 +y_0=0 +k=1.0 +units=m +no_defs",
    )
    ref = kt.MapProjection("EPSG:4326", "EPSG:3857")
    x1, y1 = mp.predict(GRID_LON, GRID_LAT)
    x2, y2 = ref.predict(GRID_LON, GRID_LAT)
    np.testing.assert_array_equal(x1, x2)
    np.testing.assert_array_equal(y1, y2)
    lon, lat = mp.inverse().predict(x1, y1)
    np.testing.assert_allclose(lon, GRID_LON, atol=1e-9)
    np.testing.assert_allclose(lat, GRID_LAT, atol=1e-9)


def test_proj4_datum_shifts_are_loud():
    """Advisor round-3 finding: datum-bearing proj4 strings must not
    silently resolve as spherical WGS84.  Bare '+proj=merc' is
    ellipsoidal in PROJ (~21 km max northing difference) → must
    declare the sphere; NAD27/intl/towgs84 shifts on either side
    raise; WGS84-equivalent declarations still resolve."""
    with pytest.raises(ValueError, match="merc"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=merc")
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair("+proj=longlat +datum=NAD27", "+proj=robin")
    with pytest.raises(ValueError, match="ellps"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=moll +ellps=intl")
    with pytest.raises(ValueError, match="towgs84"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=robin +towgs84=1,2,3")
    with pytest.raises(ValueError, match="R="):
        pj.resolve_proj4_pair(LONGLAT, "+proj=robin +R=6371000")
    # WGS84-equivalent declarations still resolve analytically
    assert pj.resolve_proj4_pair(LONGLAT, "+proj=robin +R=6378137") is not None
    assert pj.resolve_proj4_pair(LONGLAT, "+proj=moll +towgs84=0,0,0") is not None
    assert pj.resolve_proj4_pair(LONGLAT, "+proj=merc +R=6378137") is not None
    assert (
        pj.resolve_proj4_pair("+proj=longlat +ellps=GRS80", "+proj=vandg")
        is not None
    )


def test_proj4_ellipsoidal_merc_is_loud():
    with pytest.raises(ValueError, match="spherical web-Mercator"):
        kt.MapProjection(LONGLAT, "+proj=merc +ellps=WGS84 +lat_ts=10")


def test_polar_stereographic_column_and_sql_twins(spark):
    """The ellipsoidal polar stereographic SQL text, run in Spark and
    in DuckDB, agrees with the numpy kernel (3031 south aspect)."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    kx, ky = pj.polar_stereographic_forward(GRID_LON, GRID_LAT, lat_ts=-71.0)
    sx, sy = geo.polar_stereographic_forward_sql("lon", "lat", -71.0)
    pdf = _grid_df(spark).selectExpr(f"{sx} AS x", f"{sy} AS y").toPandas()
    np.testing.assert_allclose(pdf.x.values, kx, rtol=1e-12)
    np.testing.assert_allclose(pdf.y.values, ky, rtol=1e-12)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": GRID_LON, "lat": GRID_LAT}))
    d = con.sql(f"select {sx} as x, {sy} as y from pts").df()
    np.testing.assert_allclose(d.x.values, kx, rtol=1e-12)
    np.testing.assert_allclose(d.y.values, ky, rtol=1e-12)


def test_polar_chain_compiles_to_pure_codegen(spark):
    from transformio_spark.operators import compiler

    df = spark.range(50).select(
        (F.col("id") * 7.0 - 175.0).alias("lon"),
        (F.col("id") * 3.4 - 85.0).alias("lat"),
    )
    for code in ("EPSG:3031", "EPSG:3995"):
        model = kt.Chain([kt.MapProjection("EPSG:4326", code)])
        out = compiler.with_transformed_columns(df, model, x="lon", y="lat")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan


def test_robinson_column_and_sql_twins(spark):
    """The Spark and DuckDB spline texts agree with the numpy kernel."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    kx, ky = pj.robinson_forward(GRID_LON, GRID_LAT)
    cx, cy = geo.robinson_forward_spark_sql("lon", "lat")
    pdf = _grid_df(spark).selectExpr(f"{cx} AS x", f"{cy} AS y").toPandas()
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)
    sx, sy = geo.robinson_forward_sql("lon", "lat")
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": GRID_LON, "lat": GRID_LAT}))
    d = con.sql(f"select {sx} as x, {sy} as y from pts").df()
    np.testing.assert_allclose(d.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(d.y.values, ky, atol=1e-6)


def test_robinson_chain_compiles_to_pure_codegen(spark):
    from transformio_spark.operators import compiler

    df = spark.range(50).select(
        (F.col("id") * 7.0 - 175.0).alias("lon"),
        (F.col("id") * 3.4 - 85.0).alias("lat"),
    )
    model = kt.Chain([kt.MapProjection("EPSG:4326", "ESRI:54030")])
    out = compiler.with_transformed_columns(df, model, x="lon", y="lat")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# Transverse Mercator / UTM (round 5)
# ---------------------------------------------------------------------------

def test_utm_anchors():
    # zone origin is exact by construction
    E, N = pj.utm_forward(3.0, 0.0, 31)
    assert E == 500000.0 and N == 0.0
    # rectifying arc to the pole: k0 * WGS84 quarter meridian
    # (10 001 965.7293 m, published) — n^4 truncation is ~1e-5 m
    _, Np = pj.utm_forward(3.0, 90.0, 31)
    assert Np == pytest.approx(0.9996 * 10001965.7293, abs=1e-3)
    # CN Tower (Wikipedia UTM worked example): 43.642567 N
    # 79.387139 W -> zone 17N 630084 E 4833438 N (meter precision)
    E, N = pj.utm_forward(-79.387139, 43.642567, 17)
    assert E == pytest.approx(630084.0, abs=1.0)
    assert N == pytest.approx(4833439.0, abs=1.0)
    # south zone adds the 10^7 false northing: same point mirrored
    # across the equator, northing complements
    En, Nn = pj.utm_forward(3.5, 40.0, 31)
    Es, Ns = pj.utm_forward(3.5, -40.0, 31, south=True)
    assert Es == pytest.approx(En, abs=1e-6)
    assert Ns == pytest.approx(1e7 - Nn, abs=1e-6)
    # scale on the central meridian is k0 (derivative check, 1 m apart)
    _, n1 = pj.utm_forward(3.0, 45.0, 31)
    _, n2 = pj.utm_forward(3.0, 45.0 + 1e-5, 31)
    dphi_m = 1e-5 * math.pi / 180.0 * 6367449.1458234154  # ~M(45)
    assert (n2 - n1) / dphi_m == pytest.approx(0.9996, rel=1e-3)


def test_utm_roundtrip_submm():
    # whole zone 31 band incl. overlap (+-8 deg off the CM), lat to
    # the UTM limits and past them
    lon = np.linspace(-5.0, 11.0, 33)
    lat = np.linspace(-83.9, 83.9, 41)
    LO, LA = np.meshgrid(lon, lat)
    E, N = pj.utm_forward(LO.ravel(), LA.ravel(), 31)
    lo, la = pj.utm_inverse(E, N, 31)
    err_mm = 1000.0 * np.hypot(
        (lo - LO.ravel()) * 111320.0 * np.cos(np.radians(LA.ravel())),
        (la - LA.ravel()) * 110574.0,
    )
    assert err_mm.max() < 1e-3  # sub-micrometer in practice


def test_tmerc_lat0_origin_and_params():
    b = pj.resolve_proj4_pair(
        LONGLAT,
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
        "+x_0=400000 +y_0=-100000 +ellps=GRS80 +units=m +no_defs",
    )
    E, N = b.transform(np.array([-2.0]), np.array([49.0]))
    assert E[0] == pytest.approx(400000.0, abs=1e-9)
    assert N[0] == pytest.approx(-100000.0, abs=1e-9)
    # inverse direction resolves too and round-trips
    binv = pj.resolve_proj4_pair(
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
        "+x_0=400000 +y_0=-100000 +ellps=GRS80 +units=m +no_defs",
        LONGLAT,
    )
    lo, la = binv.transform(E, N)
    assert lo[0] == pytest.approx(-2.0, abs=1e-12)
    assert la[0] == pytest.approx(49.0, abs=1e-12)


def test_proj4_utm_resolution_and_strictness():
    b = pj.resolve_proj4_pair(LONGLAT, "+proj=utm +zone=17 +datum=WGS84")
    E, N = b.transform(np.array([-79.387139]), np.array([43.642567]))
    ke, kn = pj.utm_forward(-79.387139, 43.642567, 17)
    assert E[0] == ke and N[0] == kn
    s = pj.resolve_proj4_pair(LONGLAT, "+proj=utm +zone=59 +south")
    Es, Ns = s.transform(np.array([172.0]), np.array([-43.5]))
    assert Ns[0] == pj.utm_forward(172.0, -43.5, 59, south=True)[1]
    with pytest.raises(ValueError, match="zone"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=utm +datum=WGS84")
    # datum strictness applies to utm/tmerc like every other backend
    with pytest.raises(ValueError, match="datum shift"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=utm +zone=31 +ellps=intl")
    # explicit lon_0 on +proj=utm means "generic tmerc" — loud, not
    # silently ignored
    with pytest.raises(ValueError, match="not supported"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=utm +zone=31 +lon_0=9")


def test_utm_epsg_registry_and_map_projection():
    # all 120 codes registered
    for z in (1, 17, 31, 60):
        assert f"EPSG:{32600 + z}" in pj.ANALYTIC_PROJECTIONS
        assert f"EPSG:{32700 + z}" in pj.ANALYTIC_PROJECTIONS
    # MapProjection end-to-end, pyproj-free, incl. zone capture check
    # (each registered lambda must project in ITS zone)
    m17 = kt.MapProjection("EPSG:4326", "EPSG:32617")
    m18 = kt.MapProjection("EPSG:4326", "EPSG:32618")
    x17, _ = m17.predict([-79.387139], [43.642567])
    x18, _ = m18.predict([-79.387139], [43.642567])
    assert x17[0] == pj.utm_forward(-79.387139, 43.642567, 17)[0]
    assert x18[0] == pj.utm_forward(-79.387139, 43.642567, 18)[0]
    assert x17[0] != x18[0]
    # south code carries the false northing
    _, ns = kt.MapProjection("EPSG:4326", "EPSG:32759").predict([172.0], [-43.5])
    assert ns[0] > 4.0e6
    # inverse registration round-trips
    lo, la = kt.MapProjection("EPSG:32617", "EPSG:4326").predict(
        *kt.MapProjection("EPSG:4326", "EPSG:32617").predict([-79.4], [43.6])
    )
    assert lo[0] == pytest.approx(-79.4, abs=1e-11)
    assert la[0] == pytest.approx(43.6, abs=1e-11)


def test_utm_stage_sql_twins_match_kernel(spark):
    """The shared dialect-portable stage text (geo.tm_forward_stages)
    run by BOTH engines agrees with the numpy kernel to < 1e-6 m —
    exp/ln-spelled hyperbolics vs numpy's sinh/cosh only differ in
    ulps."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    lon = np.linspace(-5.0, 11.0, 23)
    lat = np.linspace(-83.0, 83.0, 23)
    kx, ky = pj.transverse_mercator_forward(
        lon, lat, lon0=3.0, k0=pj.UTM_K0, fe=pj.UTM_FE
    )
    stages, E_sql, N_sql = geo.tm_forward_stages()
    pts = pd.DataFrame(
        {"lon": lon, "lat": lat, "lon0v": 3.0, "fnv": 0.0}
    )
    # DuckDB
    con = duckdb.connect()
    con.register("base", pts)
    prev = "base"
    sql_parts = []
    for i, (name, expr) in enumerate(stages):
        sql_parts.append(f"s{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"s{i}"
    d = con.sql(
        "WITH " + ", ".join(sql_parts)
        + f" SELECT {E_sql} AS x, {N_sql} AS y FROM {prev}"
    ).df()
    np.testing.assert_allclose(d.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(d.y.values, ky, atol=1e-6)
    # Spark, same text via F.expr
    sdf = spark.createDataFrame(pts)
    for name, expr in stages:
        sdf = sdf.withColumn(name, F.expr(expr))
    pdf = (
        sdf.select(F.expr(E_sql).alias("x"), F.expr(N_sql).alias("y"))
        .toPandas()
    )
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)


def test_utm_cells_is_pure_codegen(spark, sf_dir):
    from transformio_spark.plans import queries as q

    plan = (
        q.q_utm_cells(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# Lambert Conformal Conic 2SP + Albers Equal Area (round 5)
# ---------------------------------------------------------------------------

CLARKE1866_A = 6378206.4
CLARKE1866_F = 1.0 / 294.978698214


def test_lcc_published_worked_examples():
    # Snyder PP1395 Appendix A, LCC ellipsoid example (Clarke 1866,
    # std parallels 33N/45N, origin 23N 96W, point 35N 75W):
    # x = 1 894 410.9 m, y = 1 564 649.5 m
    x, y = pj.lambert_conformal_forward(
        -75.0, 35.0, 33.0, 45.0, lat0=23.0, lon0=-96.0,
        a=CLARKE1866_A, f=CLARKE1866_F,
    )
    assert x == pytest.approx(1894410.9, abs=0.05)
    assert y == pytest.approx(1564649.5, abs=0.05)
    # EPSG GN7-2 §3.1.1 LCC 2SP worked example (NAD27 Texas South
    # Central, US survey feet: a = 20925832.16 ftUS, 1/f = 294.97870,
    # std parallels 28°23'/30°17', origin 27°50'N 99°W,
    # FE = 2 000 000 ftUS; point 28°30'N 96°W):
    # E = 2 963 503.91 ftUS, N = 254 759.80 ftUS
    x, y = pj.lambert_conformal_forward(
        -96.0, 28.5, 28.0 + 23.0 / 60.0, 30.0 + 17.0 / 60.0,
        lat0=27.0 + 50.0 / 60.0, lon0=-99.0, fe=2_000_000.0,
        a=20925832.16, f=1.0 / 294.97870,
    )
    assert x == pytest.approx(2963503.91, abs=0.05)
    assert y == pytest.approx(254759.80, abs=0.05)


def test_albers_published_worked_example():
    # Snyder PP1395 Appendix A, Albers ellipsoid example (Clarke 1866,
    # std parallels 29.5N/45.5N, origin 23N 96W, point 35N 75W):
    # x = 1 885 472.7 m, y = 1 535 925.0 m
    x, y = pj.albers_forward(
        -75.0, 35.0, 29.5, 45.5, lat0=23.0, lon0=-96.0,
        a=CLARKE1866_A, f=CLARKE1866_F,
    )
    assert x == pytest.approx(1885472.7, abs=0.05)
    assert y == pytest.approx(1535925.0, abs=0.05)


def test_lcc_standard_parallel_scale_and_conformality():
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def scales(lon, lat, d=1e-5):
        x0, y0 = pj.lambert_conformal_forward(lon, lat, 35.0, 65.0,
                                              lat0=52.0, lon0=10.0)
        x1, y1 = pj.lambert_conformal_forward(lon + d, lat, 35.0, 65.0,
                                              lat0=52.0, lon0=10.0)
        x2, y2 = pj.lambert_conformal_forward(lon, lat + d, 35.0, 65.0,
                                              lat0=52.0, lon0=10.0)
        sphi = math.sin(math.radians(lat))
        m_rad = pj.A_WGS84 * (1 - e2) / (1 - e2 * sphi * sphi) ** 1.5
        n_rad = pj.A_WGS84 / math.sqrt(1 - e2 * sphi * sphi)
        h = math.hypot(x2 - x0, y2 - y0) / (m_rad * math.radians(d))
        k = math.hypot(x1 - x0, y1 - y0) / (
            n_rad * math.cos(math.radians(lat)) * math.radians(d)
        )
        return h, k

    # k = 1 exactly on BOTH standard parallels (2SP defining property)
    for lat in (35.0, 65.0):
        _, k = scales(25.0, lat)
        assert k == pytest.approx(1.0, abs=1e-7)
    # conformal: meridian and parallel scale agree everywhere
    for lon, lat in [(10.0, 52.0), (2.0, 35.0), (30.0, 65.0), (-20.0, 20.0)]:
        h, k = scales(lon, lat)
        assert h == pytest.approx(k, rel=1e-6)
    # scale < 1 between the parallels, > 1 outside
    assert scales(10.0, 50.0)[1] < 1.0
    assert scales(10.0, 20.0)[1] > 1.0
    assert scales(10.0, 75.0)[1] > 1.0


def test_albers_equal_area_property():
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def area_ratio(lon, lat, d=1e-3):
        x0, y0 = pj.albers_forward(lon, lat, 20.0, -23.0, lon0=25.0)
        x1, y1 = pj.albers_forward(lon + d, lat, 20.0, -23.0, lon0=25.0)
        x2, y2 = pj.albers_forward(lon, lat + d, 20.0, -23.0, lon0=25.0)
        proj = abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))
        sphi = math.sin(math.radians(lat))
        ell = (pj.A_WGS84 ** 2 * (1 - e2) * math.cos(math.radians(lat))
               / (1 - e2 * sphi * sphi) ** 2) * math.radians(d) ** 2
        return proj / ell

    for lon, lat in [(25.0, 0.0), (0.0, 45.0), (80.0, -60.0), (-170.0, 30.0)]:
        assert area_ratio(lon, lat) == pytest.approx(1.0, abs=5e-5)


def test_conic_roundtrips_including_pole():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179.99, 179.99, 4000)
    lat = rng.uniform(-89.5, 89.5, 4000)
    # LCC (EPSG:3034 params)
    E, N = pj.lambert_conformal_forward(lon, lat, 35.0, 65.0, lat0=52.0,
                                        lon0=10.0, fe=4e6, fn=2.8e6)
    lo, la = pj.lambert_conformal_inverse(E, N, 35.0, 65.0, lat0=52.0,
                                          lon0=10.0, fe=4e6, fn=2.8e6)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-11 and np.abs(la - lat).max() < 1e-11
    # Albers (ESRI:102022 params)
    E, N = pj.albers_forward(lon, lat, 20.0, -23.0, lon0=25.0)
    lo, la = pj.albers_inverse(E, N, 20.0, -23.0, lon0=25.0)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-11 and np.abs(la - lat).max() < 1e-9
    # the exact poles snap back exactly (PROJ-style |q| >= q_pole)
    for plat in (90.0, -90.0):
        _, la = pj.albers_inverse(
            *pj.albers_forward(0.0, plat, 20.0, -23.0, lon0=25.0),
            20.0, -23.0, lon0=25.0,
        )
        assert float(la) == plat


def test_conic_registry_and_proj4_resolution():
    # EPSG:3034 false origin is exact by construction
    fwd = pj.ANALYTIC_PROJECTIONS["EPSG:3034"][0]()
    X, Y = fwd.transform(np.array([10.0]), np.array([52.0]))
    assert X[0] == pytest.approx(4_000_000.0, abs=1e-6)
    assert Y[0] == pytest.approx(2_800_000.0, abs=1e-6)
    # proj4 string resolves to the same backend
    b = pj.resolve_proj4_pair(
        LONGLAT,
        "+proj=lcc +lat_1=35 +lat_2=65 +lat_0=52 +lon_0=10 "
        "+x_0=4000000 +y_0=2800000 +ellps=GRS80 +units=m +no_defs",
    )
    Xp, Yp = b.transform(np.array([2.3]), np.array([48.9]))
    Xr, Yr = fwd.transform(np.array([2.3]), np.array([48.9]))
    assert Xp[0] == Xr[0] and Yp[0] == Yr[0]
    # aea likewise, vs ESRI:102022
    fa = pj.ANALYTIC_PROJECTIONS["ESRI:102022"][0]()
    b2 = pj.resolve_proj4_pair(
        LONGLAT, "+proj=aea +lat_1=20 +lat_2=-23 +lon_0=25 +datum=WGS84",
    )
    Xa, Ya = fa.transform(np.array([36.8]), np.array([-1.3]))
    Xb, Yb = b2.transform(np.array([36.8]), np.array([-1.3]))
    assert Xa[0] == Xb[0] and Ya[0] == Yb[0]
    # inverse direction resolves
    binv = pj.resolve_proj4_pair(
        "+proj=aea +lat_1=20 +lat_2=-23 +lon_0=25 +datum=WGS84", LONGLAT,
    )
    lo, la = binv.transform(Xa, Ya)
    assert lo[0] == pytest.approx(36.8, abs=1e-11)
    assert la[0] == pytest.approx(-1.3, abs=1e-11)


def test_proj4_conic_strictness():
    # missing lat_1 is loud
    with pytest.raises(ValueError, match="lat_1"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=lcc +lon_0=10")
    # the 1SP scale-factor variant (EPSG 9801) is loud, not silent
    with pytest.raises(ValueError, match="9801"):
        pj.resolve_proj4_pair(
            LONGLAT, "+proj=lcc +lat_1=49 +k_0=0.99 +lon_0=10"
        )
    # datum shifts stay loud for conics too
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair(
            LONGLAT, "+proj=aea +lat_1=20 +lat_2=-23 +datum=NAD27"
        )
    # unknown parameter is loud
    with pytest.raises(ValueError, match="not supported"):
        pj.resolve_proj4_pair(
            LONGLAT, "+proj=lcc +lat_1=35 +lat_2=65 +pm=paris"
        )


def test_lcc_sql_twin_matches_kernel(spark):
    """The shared expression text (geo.lcc_forward_sql) run by BOTH
    engines agrees with the numpy kernel to < 1e-6 m."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    lon = np.linspace(-179.0, 179.0, 41)
    lat = np.linspace(-85.0, 85.0, 41)
    kx, ky = pj.lambert_conformal_forward(
        lon, lat, 35.0, 65.0, lat0=52.0, lon0=10.0, fe=4e6, fn=2.8e6
    )
    mx, my = geo.lcc_forward_sql(
        "lon", "lat", 35.0, 65.0, 52.0, lon0=10.0, fe=4e6, fn=2.8e6
    )
    pts = pd.DataFrame({"lon": lon, "lat": lat})
    con = duckdb.connect()
    con.register("pts", pts)
    d = con.sql(f"SELECT {mx} AS x, {my} AS y FROM pts").df()
    np.testing.assert_allclose(d.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(d.y.values, ky, atol=1e-6)
    pdf = (
        spark.createDataFrame(pts)
        .select(F.expr(mx).alias("x"), F.expr(my).alias("y"))
        .toPandas()
    )
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)


def test_lcc_cells_is_pure_codegen(spark, sf_dir):
    from transformio_spark.plans import queries as q

    plan = (
        q.q_lcc_cells(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# Lambert Azimuthal Equal Area (round 5)
# ---------------------------------------------------------------------------

def test_laea_epsg_worked_example():
    # EPSG GN7-2 §3.5.2 worked example (ETRS89 / LAEA Europe,
    # EPSG:3035 parameters: center 52N 10E, FE 4321000, FN 3210000;
    # point 50N 5E): E = 3 962 799.45, N = 2 999 718.85
    E, N = pj.laea_forward(5.0, 50.0, lat0=52.0, lon0=10.0,
                           fe=4_321_000.0, fn=3_210_000.0)
    assert E == pytest.approx(3962799.45, abs=0.05)
    assert N == pytest.approx(2999718.85, abs=0.05)
    lo, la = pj.laea_inverse(E, N, lat0=52.0, lon0=10.0,
                             fe=4_321_000.0, fn=3_210_000.0)
    assert lo == pytest.approx(5.0, abs=1e-9)
    assert la == pytest.approx(50.0, abs=1e-9)
    # projection center maps to the false origin exactly
    E0, N0 = pj.laea_forward(10.0, 52.0, lat0=52.0, lon0=10.0,
                             fe=4_321_000.0, fn=3_210_000.0)
    assert E0 == pytest.approx(4_321_000.0, abs=1e-6)
    assert N0 == pytest.approx(3_210_000.0, abs=1e-6)


def test_laea_equal_area_and_roundtrip():
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def area_ratio(lon, lat, d=1e-3):
        x0, y0 = pj.laea_forward(lon, lat, lat0=52.0, lon0=10.0)
        x1, y1 = pj.laea_forward(lon + d, lat, lat0=52.0, lon0=10.0)
        x2, y2 = pj.laea_forward(lon, lat + d, lat0=52.0, lon0=10.0)
        proj = abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))
        sphi = math.sin(math.radians(lat))
        ell = (pj.A_WGS84 ** 2 * (1 - e2) * math.cos(math.radians(lat))
               / (1 - e2 * sphi * sphi) ** 2) * math.radians(d) ** 2
        return proj / ell

    for lon, lat in [(10.0, 52.0), (5.0, 50.0), (30.0, 70.0), (-20.0, 10.0)]:
        assert area_ratio(lon, lat) == pytest.approx(1.0, abs=5e-5)
    rng = np.random.default_rng(5)
    lon = rng.uniform(-179.9, 179.9, 4000)
    lat = rng.uniform(-89.9, 89.9, 4000)
    E, N = pj.laea_forward(lon, lat, lat0=52.0, lon0=10.0)
    lo, la = pj.laea_inverse(E, N, lat0=52.0, lon0=10.0)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-8 and np.abs(la - lat).max() < 1e-8
    # the center's antipode is not representable: NaN, like PROJ errors
    E, N = pj.laea_forward(-170.0, -52.0, lat0=52.0, lon0=10.0)
    assert math.isnan(float(E)) and math.isnan(float(N))


def test_laea_registry_and_proj4():
    fwd = pj.ANALYTIC_PROJECTIONS["EPSG:3035"][0]()
    X, Y = fwd.transform(np.array([5.0]), np.array([50.0]))
    assert X[0] == pytest.approx(3962799.45, abs=0.05)
    b = pj.resolve_proj4_pair(
        LONGLAT,
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
        "+ellps=GRS80 +units=m +no_defs",
    )
    Xp, Yp = b.transform(np.array([5.0]), np.array([50.0]))
    assert Xp[0] == X[0] and Yp[0] == Y[0]
    binv = pj.resolve_proj4_pair(
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
        "+ellps=GRS80", LONGLAT,
    )
    lo, la = binv.transform(Xp, Yp)
    assert lo[0] == pytest.approx(5.0, abs=1e-9)
    assert la[0] == pytest.approx(50.0, abs=1e-9)
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=laea +lat_0=52 +datum=NAD83")


def test_laea_sql_twin_matches_kernel(spark):
    """The shared expression text (geo.laea_forward_sql) run by BOTH
    engines agrees with the numpy kernel to < 1e-6 m."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    lon = np.linspace(-179.0, 179.0, 41)
    lat = np.linspace(-85.0, 85.0, 41)
    kx, ky = pj.laea_forward(lon, lat, lat0=52.0, lon0=10.0,
                             fe=4_321_000.0, fn=3_210_000.0)
    mx, my = geo.laea_forward_sql("lon", "lat", 52.0, lon0=10.0,
                                  fe=4_321_000.0, fn=3_210_000.0)
    pts = pd.DataFrame({"lon": lon, "lat": lat})
    con = duckdb.connect()
    con.register("pts", pts)
    d = con.sql(f"SELECT {mx} AS x, {my} AS y FROM pts").df()
    np.testing.assert_allclose(d.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(d.y.values, ky, atol=1e-6)
    pdf = (
        spark.createDataFrame(pts)
        .select(F.expr(mx).alias("x"), F.expr(my).alias("y"))
        .toPandas()
    )
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)


def test_laea_cells_is_pure_codegen(spark, sf_dir):
    from transformio_spark.plans import queries as q

    plan = (
        q.q_laea_cells(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


# ---------------------------------------------------------------------------
# cylindrical equal-area (EASE-Grid 2.0), sinusoidal, azimuthal
# equidistant (round 5)
# ---------------------------------------------------------------------------


def test_cea_ease_grid_anchor_and_roundtrip():
    """EPSG:6933 anchor: the published NSIDC EASE-Grid 2.0 global map
    half-width is 17 367 530.445161 m (a * k0 * pi with standard
    parallel 30N on WGS84); the forward must reproduce it to the
    micrometer, and the equator must be true-to-scale at 30N."""
    E, _ = pj.cea_forward(np.array([180.0]), np.array([0.0]), lat_ts=30.0)
    assert abs(E[0]) == pytest.approx(17367530.445161, abs=1e-5)
    # center maps to origin exactly
    E0, N0 = pj.cea_forward(0.0, 0.0, lat_ts=30.0)
    assert float(E0) == 0.0 and float(N0) == 0.0
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179.9, 179.9, 4000)
    lat = rng.uniform(-89.9, 89.9, 4000)
    E, N = pj.cea_forward(lon, lat, lat_ts=30.0)
    lo, la = pj.cea_inverse(E, N, lat_ts=30.0)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-8 and np.abs(la - lat).max() < 1e-7


def test_cea_equal_area_property():
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def area_ratio(lon, lat, d=1e-3):
        x0, y0 = pj.cea_forward(lon, lat, lat_ts=30.0)
        x1, y1 = pj.cea_forward(lon + d, lat, lat_ts=30.0)
        x2, y2 = pj.cea_forward(lon, lat + d, lat_ts=30.0)
        proj = abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))
        sphi = math.sin(math.radians(lat))
        ell = (pj.A_WGS84 ** 2 * (1 - e2) * math.cos(math.radians(lat))
               / (1 - e2 * sphi * sphi) ** 2) * math.radians(d) ** 2
        return proj / ell

    for lon, lat in [(0.0, 0.0), (100.0, 30.0), (-60.0, 70.0), (20.0, -45.0)]:
        assert area_ratio(lon, lat) == pytest.approx(1.0, abs=5e-5)


def test_cea_registry_and_proj4():
    fwd = pj.ANALYTIC_PROJECTIONS["EPSG:6933"][0]()
    X, Y = fwd.transform(np.array([100.0]), np.array([45.0]))
    b = pj.resolve_proj4_pair(
        LONGLAT, "+proj=cea +lat_ts=30 +lon_0=0 +x_0=0 +y_0=0 "
        "+datum=WGS84 +units=m +no_defs",
    )
    Xp, Yp = b.transform(np.array([100.0]), np.array([45.0]))
    assert Xp[0] == X[0] and Yp[0] == Y[0]
    binv = pj.resolve_proj4_pair("+proj=cea +lat_ts=30 +datum=WGS84", LONGLAT)
    lo, la = binv.transform(Xp, Yp)
    assert lo[0] == pytest.approx(100.0, abs=1e-9)
    assert la[0] == pytest.approx(45.0, abs=1e-7)
    with pytest.raises(ValueError, match="k_0"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=cea +k_0=0.9")
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=cea +lat_ts=30 +datum=NAD27")


def test_sinusoidal_meridian_arc_and_roundtrip():
    """y on the central meridian IS the ellipsoidal meridian arc: the
    Krüger-series value must match direct numeric quadrature of
    a(1-e^2)/(1-e^2 sin^2 t)^{3/2} (Snyder 3-21) to sub-micrometer."""
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def arc_quad(lat_deg, n=400001):
        t = np.linspace(0.0, math.radians(lat_deg), n)
        integ = pj.A_WGS84 * (1 - e2) / (1 - e2 * np.sin(t) ** 2) ** 1.5
        return float(np.trapz(integ, t))

    for lat in (15.0, 30.0, 52.0, 75.0, 89.0):
        _, N = pj.sinusoidal_forward(np.array([0.0]), np.array([lat]))
        assert N[0] == pytest.approx(arc_quad(lat), abs=5e-6)
    rng = np.random.default_rng(12)
    lon = rng.uniform(-179.9, 179.9, 4000)
    lat = rng.uniform(-89.9, 89.9, 4000)
    E, N = pj.sinusoidal_forward(lon, lat, lon0=10.0)
    lo, la = pj.sinusoidal_inverse(E, N, lon0=10.0)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-8 and np.abs(la - lat).max() < 1e-8
    # poles: lam indeterminate -> lon0 by convention
    E, N = pj.sinusoidal_forward(np.array([50.0]), np.array([90.0]), lon0=10.0)
    lo, la = pj.sinusoidal_inverse(E, N, lon0=10.0)
    assert la[0] == pytest.approx(90.0, abs=1e-9)
    assert lo[0] == pytest.approx(10.0, abs=1e-9)


def test_sinusoidal_registry_and_proj4():
    fwd = pj.ANALYTIC_PROJECTIONS["ESRI:54008"][0]()
    X, Y = fwd.transform(np.array([100.0]), np.array([45.0]))
    b = pj.resolve_proj4_pair(LONGLAT, "+proj=sinu +lon_0=0 +datum=WGS84")
    Xp, Yp = b.transform(np.array([100.0]), np.array([45.0]))
    assert Xp[0] == X[0] and Yp[0] == Y[0]
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=sinu +ellps=intl")


def test_aeqd_distance_and_azimuth_true():
    """The defining properties: plane distance from the center equals
    R * great-circle angle EXACTLY, and the plane bearing from the
    center equals the initial great-circle azimuth."""
    lat0, lon0 = 40.0, -75.0
    rng = np.random.default_rng(13)
    lon = rng.uniform(-179.0, 179.0, 2000)
    lat = rng.uniform(-89.0, 89.0, 2000)
    E, N = pj.aeqd_forward(lon, lat, lat0=lat0, lon0=lon0)
    p0, l0 = math.radians(lat0), math.radians(lon0)
    p, l = np.radians(lat), np.radians(lon)
    gc = np.arccos(np.clip(
        np.sin(p0) * np.sin(p) + np.cos(p0) * np.cos(p) * np.cos(l - l0),
        -1.0, 1.0))
    np.testing.assert_allclose(np.hypot(E, N), pj.R_SPHERE * gc, atol=1e-6)
    az_plane = np.arctan2(E, N)
    az_gc = np.arctan2(
        np.cos(p) * np.sin(l - l0),
        np.cos(p0) * np.sin(p) - np.sin(p0) * np.cos(p) * np.cos(l - l0))
    daz = np.abs((az_plane - az_gc + np.pi) % (2 * np.pi) - np.pi)
    assert daz.max() < 1e-9
    lo, la = pj.aeqd_inverse(E, N, lat0=lat0, lon0=lon0)
    dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
    assert dlon.max() < 1e-8 and np.abs(la - lat).max() < 1e-8
    # center maps to origin, inverse of origin maps back
    E0, N0 = pj.aeqd_forward(lon0, lat0, lat0=lat0, lon0=lon0)
    assert float(E0) == pytest.approx(0.0, abs=1e-9)
    assert float(N0) == pytest.approx(0.0, abs=1e-9)
    lo0, la0 = pj.aeqd_inverse(0.0, 0.0, lat0=lat0, lon0=lon0)
    assert float(lo0) == pytest.approx(lon0) and float(la0) == pytest.approx(lat0)


def test_aeqd_registry_and_proj4():
    fwd = pj.ANALYTIC_PROJECTIONS["ESRI:54032"][0]()
    X, Y = fwd.transform(np.array([100.0]), np.array([45.0]))
    b = pj.resolve_proj4_pair(
        LONGLAT, "+proj=aeqd +lat_0=0 +lon_0=0 +R=6378137")
    Xp, Yp = b.transform(np.array([100.0]), np.array([45.0]))
    assert Xp[0] == X[0] and Yp[0] == Y[0]
    # bare aeqd is ellipsoidal in PROJ: must refuse, not approximate
    with pytest.raises(ValueError, match="DECLARED sphere"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=aeqd +lat_0=40 +datum=WGS84")
    with pytest.raises(ValueError, match="datum"):
        pj.resolve_proj4_pair(LONGLAT, "+proj=aeqd +R=6378137 +datum=NAD27")


def test_cea_sql_twin_matches_kernel(spark):
    """The shared expression text (geo.cea_forward_sql) run by BOTH
    engines agrees with the numpy kernel to < 1e-6 m."""
    import duckdb
    import pandas as pd

    from transformio_spark.functions import geo

    lon = np.linspace(-179.0, 179.0, 41)
    lat = np.linspace(-85.0, 85.0, 41)
    kx, ky = pj.cea_forward(lon, lat, lat_ts=30.0)
    mx, my = geo.cea_forward_sql("lon", "lat", 30.0)
    pts = pd.DataFrame({"lon": lon, "lat": lat})
    con = duckdb.connect()
    con.register("pts", pts)
    d = con.sql(f"SELECT {mx} AS x, {my} AS y FROM pts").df()
    np.testing.assert_allclose(d.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(d.y.values, ky, atol=1e-6)
    pdf = (
        spark.createDataFrame(pts)
        .select(F.expr(mx).alias("x"), F.expr(my).alias("y"))
        .toPandas()
    )
    np.testing.assert_allclose(pdf.x.values, kx, atol=1e-6)
    np.testing.assert_allclose(pdf.y.values, ky, atol=1e-6)


def test_ease_cells_is_pure_codegen(spark, sf_dir):
    from transformio_spark.plans import queries as q

    plan = (
        q.q_ease_cells(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan


def test_laea_polar_aspect_ease_north_south():
    """EPSG:6931/6932 (EASE-Grid 2.0 North/South): the polar LAEA
    branch.  Pinned properties: the pole maps to the origin exactly;
    rho(phi) == a*sqrt(qp -+ q) (Snyder 24-23); equal-area holds; the
    roundtrip closes; and north/south are mirror images."""
    E, N = pj.laea_forward(np.array([37.0]), np.array([90.0]), lat0=90.0)
    assert float(E) == 0.0 and float(N) == 0.0
    e, _ = pj._ecc(pj.A_WGS84, pj.F_WGS84)
    qp = pj._aea_q(np.pi / 2.0, e)
    for lat in (0.0, 30.0, 60.0, 89.0):
        E, N = pj.laea_forward(np.array([0.0]), np.array([lat]), lat0=90.0)
        rho = pj.A_WGS84 * math.sqrt(qp - pj._aea_q(math.radians(lat), e))
        assert float(np.hypot(E, N)) == pytest.approx(rho, abs=1e-6)
        assert float(N) == pytest.approx(-rho, abs=1e-6)  # due south of pole
        Es, Ns = pj.laea_forward(np.array([0.0]), np.array([-lat]), lat0=-90.0)
        assert float(Es) == pytest.approx(float(E), abs=1e-6)
        assert float(Ns) == pytest.approx(-float(N), abs=1e-6)
    rng = np.random.default_rng(8)
    lon = rng.uniform(-179.9, 179.9, 3000)
    for lat0, lo_, hi_ in ((90.0, -10.0, 89.9), (-90.0, -89.9, 10.0)):
        lat = rng.uniform(lo_, hi_, 3000)
        E, N = pj.laea_forward(lon, lat, lat0=lat0)
        lo, la = pj.laea_inverse(E, N, lat0=lat0)
        dlon = np.abs((lo - lon + 180.0) % 360.0 - 180.0)
        assert dlon.max() < 1e-8 and np.abs(la - lat).max() < 1e-8
    # registry + proj4 polar laea resolve to the same backend
    fwd = pj.ANALYTIC_PROJECTIONS["EPSG:6931"][0]()
    X, Y = fwd.transform(np.array([45.0]), np.array([70.0]))
    b = pj.resolve_proj4_pair(
        LONGLAT, "+proj=laea +lat_0=90 +lon_0=0 +datum=WGS84")
    Xp, Yp = b.transform(np.array([45.0]), np.array([70.0]))
    assert Xp[0] == X[0] and Yp[0] == Y[0]
    # equal-area property on both polar aspects
    e2 = pj.F_WGS84 * (2.0 - pj.F_WGS84)

    def area_ratio(lon_, lat_, lat0, d=1e-3):
        x0, y0 = pj.laea_forward(lon_, lat_, lat0=lat0)
        x1, y1 = pj.laea_forward(lon_ + d, lat_, lat0=lat0)
        x2, y2 = pj.laea_forward(lon_, lat_ + d, lat0=lat0)
        proj = abs((x1 - x0) * (y2 - y0) - (x2 - x0) * (y1 - y0))
        sphi = math.sin(math.radians(lat_))
        ell = (pj.A_WGS84 ** 2 * (1 - e2) * math.cos(math.radians(lat_))
               / (1 - e2 * sphi * sphi) ** 2) * math.radians(d) ** 2
        return proj / ell

    assert area_ratio(10.0, 60.0, 90.0) == pytest.approx(1.0, abs=5e-5)
    assert area_ratio(-120.0, -45.0, -90.0) == pytest.approx(1.0, abs=5e-5)
