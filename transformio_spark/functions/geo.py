"""Geometric expression kernels (JVM side, whole-stage codegen).

The reference's transform kernels are whole-array numpy functions
(reference transforms.py:341-385, accuracy.py:9-41); on Spark the
*preferred* physical form for polynomial transforms, projections and
haversine is a pure expression — Catalyst folds it into
WholeStageCodegen with zero Python crossings.  The pandas-UDF twins
(operators/udfs.py) exist for the models that genuinely need numpy
(TIN loops, pyproj) and for parity testing; both paths call
identical math.

Every formula is written once, as SQL text (``*_sql``, or a
``*_stages`` list of named SQL stages): the engine applies it with
one ``F.expr`` per stage and the DuckDB oracle runs the same text, so
the correctness gate compares semantically identical plans (DESIGN.md
§3, one expression form).  Where the two dialects need different
text, the oracle's builder keeps its DuckDB form and the engine gets
a Spark one (``mollweide_forward_stages``,
``robinson_forward_spark_sql``).  Two Column functions remain for the
frozen headline benchmark (bench.py), which passes Columns:
:func:`polynomial_predict` and :func:`haversine_km`; each is pinned
plan-equal to its ``*_sql`` twin in tests/test_plan_quality.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# PARITY: R=6367 km, reference accuracy.py:35
EARTH_RADIUS_KM = 6367.0


def _poly_terms_cols(order: int, x: Column, y: Column) -> list[Column]:
    one = F.lit(1.0)
    if order == 1:
        return [x, y, one]
    xx, xy, yy = x * x, x * y, y * y
    if order == 2:
        return [xx, xy, yy, x, y, one]
    if order == 3:
        return [xx * x, xx * y, x * yy, yy * y, xx, xy, yy, x, y, one]
    raise ValueError(order)


def polynomial_predict(A, order: int, x: Column, y: Column) -> tuple[Column, Column]:
    """Order 1/2/3 polynomial transform as Column arithmetic; term
    order matches reference transforms.py:341-385.  Column form of
    :func:`polynomial_predict_sql`, kept for bench.py."""
    terms = _poly_terms_cols(order, x, y)
    px = None
    py = None
    for coef_x, coef_y, t in zip(A[0], A[1], terms):
        cx = F.lit(float(coef_x)) * t
        cy = F.lit(float(coef_y)) * t
        px = cx if px is None else px + cx
        py = cy if py is None else py + cy
    return px, py


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance, identical formulation to the reference
    (accuracy.py:22-36): arcsin form, R=6367 km.  Column form of
    :func:`haversine_km_sql`, kept for bench.py."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def euclidean_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    return f"sqrt(pow({x2} - {x1}, 2) + pow({y2} - {y1}, 2))"


def gc_interpolate_sql(
    lon1: str, lat1: str, lon2: str, lat2: str, f: str
) -> tuple[str, str]:
    """Great-circle (slerp) interpolation at fraction ``f`` ∈ [0,1]
    along the geodesic from point 1 to point 2, as ONE shared SQL
    text per output coordinate (round 5 — the route-densification
    primitive: waypoints, midpoints, resampled tracks).

    Standard spherical linear interpolation on unit vectors:
    A = sin((1−f)·d)/sin d, B = sin(f·d)/sin d over the central
    angle d (haversine form, the same formulation as
    :func:`haversine_km`), then back through atan2.  The degenerate
    d = 0 case (coincident e4-lattice points) short-circuits to point
    1 via CASE — both engines take the branch on the identical
    comparison, no 0/0.

    Returns (lon_expr, lat_expr) in degrees, lon ∈ (−180, 180]."""
    d = (
        f"(2.0e0 * asin(sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
    )
    a = f"(sin((1.0e0 - ({f})) * {d}) / sin({d}))"
    b = f"(sin(({f}) * {d}) / sin({d}))"
    x = (
        f"({a} * cos(radians({lat1})) * cos(radians({lon1})) "
        f"+ {b} * cos(radians({lat2})) * cos(radians({lon2})))"
    )
    y = (
        f"({a} * cos(radians({lat1})) * sin(radians({lon1})) "
        f"+ {b} * cos(radians({lat2})) * sin(radians({lon2})))"
    )
    z = f"({a} * sin(radians({lat1})) + {b} * sin(radians({lat2})))"
    lon = (
        f"(CASE WHEN {d} = 0.0e0 THEN ({lon1}) "
        f"ELSE degrees(atan2({y}, {x})) END)"
    )
    lat = (
        f"(CASE WHEN {d} = 0.0e0 THEN ({lat1}) "
        f"ELSE degrees(atan2({z}, sqrt({x} * {x} + {y} * {y}))) END)"
    )
    return lon, lat


def gc_interpolate_stages(
    lon1: str, lat1: str, lon2: str, lat2: str, f: str
) -> tuple[list[tuple[str, str]], str, str]:
    """Staged twin of :func:`gc_interpolate_sql` (round 6, guide §1.2
    per-task work): the SAME slerp arithmetic with the shared
    subtrees — the haversine central angle ``d``, the slerp weights
    ``a``/``b``, the unit-vector components — materialized once as
    intermediate columns (the tm_forward_stages pattern) instead of
    textually inlined dozens of times per output.  Returns
    (stages, lon_expr, lat_expr); every per-value double operation is
    identical to the inline form, so results are bit-equal (pinned in
    tests/test_extract_fastpath.py)."""
    stages = [
        ("_gc_rlo1", f"radians({lon1})"),
        ("_gc_rla1", f"radians({lat1})"),
        ("_gc_rlo2", f"radians({lon2})"),
        ("_gc_rla2", f"radians({lat2})"),
        ("_gc_d",
         "(2.0e0 * asin(sqrt(pow(sin((_gc_rla2 - _gc_rla1) / 2), 2) "
         "+ cos(_gc_rla1) * cos(_gc_rla2) "
         "* pow(sin((_gc_rlo2 - _gc_rlo1) / 2), 2))))"),
        ("_gc_a", f"(sin((1.0e0 - ({f})) * _gc_d) / sin(_gc_d))"),
        ("_gc_b", f"(sin(({f}) * _gc_d) / sin(_gc_d))"),
        ("_gc_x",
         "(_gc_a * cos(_gc_rla1) * cos(_gc_rlo1) "
         "+ _gc_b * cos(_gc_rla2) * cos(_gc_rlo2))"),
        ("_gc_y",
         "(_gc_a * cos(_gc_rla1) * sin(_gc_rlo1) "
         "+ _gc_b * cos(_gc_rla2) * sin(_gc_rlo2))"),
        ("_gc_z", "(_gc_a * sin(_gc_rla1) + _gc_b * sin(_gc_rla2))"),
    ]
    lon = (
        f"(CASE WHEN _gc_d = 0.0e0 THEN ({lon1}) "
        f"ELSE degrees(atan2(_gc_y, _gc_x)) END)"
    )
    lat = (
        f"(CASE WHEN _gc_d = 0.0e0 THEN ({lat1}) "
        f"ELSE degrees(atan2(_gc_z, "
        f"sqrt(_gc_x * _gc_x + _gc_y * _gc_y))) END)"
    )
    return stages, lon, lat


def bearing_deg_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Initial great-circle bearing from point 1 to point 2, degrees
    in [0, 360) clockwise from north (standard spherical forward
    azimuth: atan2(sin Δλ·cos φ2, cos φ1·sin φ2 − sin φ1·cos φ2·cos Δλ)),
    as SQL text (dialect-shared: runs verbatim under Spark ``F.expr``
    and DuckDB).  atan2 ∈ (−π, π] → degrees ∈ (−180, 180] → +360 →
    (180, 540]: the dividend stays positive, so Spark's and DuckDB's
    ``%`` agree."""
    dlon = f"(radians({lon2}) - radians({lon1}))"
    y = f"(sin({dlon}) * cos(radians({lat2})))"
    x = (
        f"(cos(radians({lat1})) * sin(radians({lat2})) "
        f"- sin(radians({lat1})) * cos(radians({lat2})) * cos({dlon}))"
    )
    return f"((degrees(atan2({y}, {x})) + 360.0e0) % 360.0e0)"


# ---------------------------------------------------------------------------
# Transforms and projections
# ---------------------------------------------------------------------------

def _poly_terms_sql(order: int, x: str, y: str) -> list[str]:
    if order == 1:
        return [x, y, "1e0"]
    xx, xy, yy = f"({x}*{x})", f"({x}*{y})", f"({y}*{y})"
    if order == 2:
        return [xx, xy, yy, x, y, "1e0"]
    if order == 3:
        return [
            f"({xx}*{x})", f"({xx}*{y})", f"({x}*{yy})", f"({yy}*{y})",
            xx, xy, yy, x, y, "1e0",
        ]
    raise ValueError(order)


def projective_predict_sql(H, x: str, y: str) -> tuple[str, str]:
    """Homography (kernels.transforms.Projective.predict semantics):
    (a·x+b·y+c)/(g·x+h·y+i), two rows over the shared denominator."""

    def lit(v):
        return dlit_sql(v)

    den = f"({lit(H[2][0])} * {x} + {lit(H[2][1])} * {y} + {lit(H[2][2])})"
    px = f"(({lit(H[0][0])} * {x} + {lit(H[0][1])} * {y} + {lit(H[0][2])}) / {den})"
    py = f"(({lit(H[1][0])} * {x} + {lit(H[1][1])} * {y} + {lit(H[1][2])}) / {den})"
    return px, py


# WGS84 semi-major axis — the EPSG:3857 sphere radius
WEBMERC_R = 6378137.0


def mercator_forward_sql(lon: str, lat: str) -> tuple[str, str]:
    """EPSG:4326 -> EPSG:3857 — the twin of
    kernels.transforms._SphericalMercator(forward=True) (public
    spherical web-Mercator formulas); the same double literals, so
    Spark and DuckDB evaluate the same fp ops."""
    x = f"(6378137.0e0 * radians({lon}))"
    y = f"(6378137.0e0 * ln(tan(0.7853981633974483e0 + radians({lat}) / 2)))"
    return x, y


def mercator_inverse_sql(x: str, y: str) -> tuple[str, str]:
    """EPSG:3857 -> EPSG:4326."""
    r = f"{WEBMERC_R!r}e0"
    lon = f"degrees({x} / {r})"
    lat = (
        f"degrees(2.0e0 * atan(exp({y} / {r})) "
        f"- {3.141592653589793 / 2.0!r}e0)"
    )
    return lon, lat


def mollweide_forward_sql(lon: str, lat: str) -> tuple[str, str]:
    """lon/lat deg -> Mollweide (ESRI:54009) meters in DuckDB text —
    the oracle's form of :func:`mollweide_forward_stages`: the same
    fixed-count Newton solve as a list_reduce fold (first list element
    is the initial accumulator, so the list is [phi, 0 x N] for N
    iterations) with the op sequence of
    kernels.projections.mollweide_forward."""
    from ..kernels.projections import MOLL_NEWTON_ITERS, R_SPHERE

    zeros = ", ".join(["0e0"] * MOLL_NEWTON_ITERS)
    c = f"(pi() * sin(radians({lat})))"
    thp = (
        f"list_reduce([cast(radians({lat}) as double), {zeros}], "
        f"(acc, i) -> acc - (acc + sin(acc) - {c}) / (1.0e0 + cos(acc)))"
    )
    # exact-pole special case — see kernels MOLL_NEWTON_ITERS note
    th = (
        f"((CASE WHEN {c} = pi() THEN pi() WHEN {c} = -pi() THEN -pi() "
        f"ELSE {thp} END) / 2.0e0)"
    )
    xs = 2.0 * 2.0 ** 0.5 / 3.141592653589793 * R_SPHERE
    ys = 2.0 ** 0.5 * R_SPHERE
    x = f"({xs!r} * radians({lon}) * cos({th}))"
    y = f"({ys!r} * sin({th}))"
    return x, y


def mollweide_forward_stages(lon: str, lat: str, prefix: str):
    """lon/lat deg -> Mollweide (ESRI:54009) meters in Spark text,
    with the Newton solve for theta' UNROLLED into projections: each
    step rewrites one materialized accumulator column, so every
    reference inside a step is a cheap attribute (CollapseProject
    keeps the split because the accumulator is non-cheap and consumed
    three times per step) and the whole solve runs in whole-stage
    codegen — a lambda fold would run interpreted, and a textual
    unroll would grow as 3^N.  Op order is that of the numpy kernel
    and of the oracle's fold (:func:`mollweide_forward_sql`), so
    values are bit-equal (pinned in tests/test_projections.py).
    Returns (stages, x_expr, y_expr): ``stages`` is a list of
    {column: sql} projections to apply in order, one ``withColumns``
    each, over ``prefix``-named columns that the caller drops after
    projecting its outputs."""
    from ..kernels.projections import MOLL_NEWTON_ITERS, R_SPHERE

    pi = "3.141592653589793e0"
    lam, c, acc = prefix + "lam", prefix + "c", prefix + "acc"
    step = f"{acc} - ({acc} + sin({acc}) - {c}) / (1.0e0 + cos({acc}))"
    stages = [
        {
            lam: f"radians({lon})",
            c: f"{pi} * sin(radians({lat}))",
            acc: f"cast(radians({lat}) as double)",
        }
    ] + [{acc: step}] * MOLL_NEWTON_ITERS
    # exact-pole special case — see kernels MOLL_NEWTON_ITERS note
    th = (
        f"((CASE WHEN {c} = {pi} THEN {pi} WHEN {c} = -{pi} THEN -{pi} "
        f"ELSE {acc} END) / 2.0e0)"
    )
    xs = dlit_sql(2.0 * 2.0 ** 0.5 / 3.141592653589793 * R_SPHERE)
    x = f"({xs} * {lam} * cos({th}))"
    y = f"({dlit_sql(2.0 ** 0.5 * R_SPHERE)} * sin({th}))"
    return stages, x, y


def mollweide_inverse_sql(x: str, y: str) -> tuple[str, str]:
    """Mollweide meters -> lon/lat deg (closed form, no iteration) —
    the twin of kernels.projections.mollweide_inverse."""
    from ..kernels.projections import R_SPHERE

    pi = "3.141592653589793e0"
    sqrt2_r = dlit_sql(2.0 ** 0.5 * R_SPHERE)
    th = f"asin(greatest(-1.0e0, least(1.0e0, {y} / {sqrt2_r})))"
    lat = (
        f"degrees(asin(greatest(-1.0e0, least(1.0e0, "
        f"(2.0e0 * {th} + sin(2.0e0 * {th})) / {pi}))))"
    )
    lon = f"degrees({pi} * {x} / (2.0e0 * {sqrt2_r} * cos({th})))"
    return lon, lat


def polar_stereographic_forward_sql(
    lon: str, lat: str, lat_ts: float
) -> tuple[str, str]:
    """Ellipsoidal polar stereographic variant B (EPSG GN7-2 §3.2.4) —
    the twin of kernels.projections.polar_stereographic_forward with
    lon0=fe=fn=0.  North aspect when lat_ts > 0 (EPSG:3995), south
    when < 0 (EPSG:3031).  The projection constants (e, k0, the big
    radical) are driver-side literals."""
    from ..kernels.projections import A_WGS84, _ps_constants

    e, big, k0 = (float(v) for v in _ps_constants(lat_ts))
    north = lat_ts > 0
    phi = f"radians({lat})" if north else f"(-radians({lat}))"
    esin = f"({dlit_sql(e)} * sin({phi}))"
    t = (
        f"(tan(0.7853981633974483e0 - {phi} / 2) * "
        f"pow((1.0e0 + {esin}) / (1.0e0 - {esin}), {dlit_sql(e / 2.0)}))"
    )
    rho = f"(2.0e0 * {dlit_sql(A_WGS84)} * {dlit_sql(k0)} * {t} / {dlit_sql(big)})"
    E = f"({rho} * sin(radians({lon})))"
    N = f"(-{rho} * cos(radians({lon})))" if north else f"({rho} * cos(radians({lon})))"
    return E, N


def _robinson_sql(lon: str, lat: str, array, at, sign: str) -> tuple[str, str]:
    """Robinson (ESRI:54030), the twin of
    kernels.projections.robinson_forward: the natural-cubic-spline
    segment lookup indexes literal coefficient arrays (19 doubles
    each), so the tree stays small; arithmetic replicates the
    kernel's _spline_eval op order exactly.  ``array(items)`` writes
    a literal array, ``at(arr, k)`` its 1-based element k, and
    ``sign`` names the dialect's sign function."""
    from ..kernels.projections import (
        _ROBINSON_MX,
        _ROBINSON_MY,
        _ROBINSON_X,
        _ROBINSON_XSCALE,
        _ROBINSON_Y,
        _ROBINSON_YSCALE,
        R_SPHERE,
    )

    aphi = f"least(greatest(abs(cast({lat} as double)), 0.0e0), 90.0e0)"
    i = f"least(cast(floor({aphi} / 5.0e0) as int), 17)"
    a = f"((cast(({i}) + 1 as double) * 5.0e0 - {aphi}) / 5.0e0)"
    b = f"(({aphi} - cast(({i}) as double) * 5.0e0) / 5.0e0)"

    def spline(table, M):
        ys = array(", ".join(dlit_sql(v) for v in table))
        ms = array(", ".join(dlit_sql(v) for v in M))
        yi, yi1 = at(ys, f"({i}) + 1"), at(ys, f"({i}) + 2")
        mi, mi1 = at(ms, f"({i}) + 1"), at(ms, f"({i}) + 2")
        cube = f"(({a}*{a}*{a} - {a}) * {mi} + ({b}*{b}*{b} - {b}) * {mi1})"
        return f"({yi} * {a} + {b} * {yi1} + {cube} * 5.0e0 * 5.0e0 / 6.0e0)"

    X = spline(_ROBINSON_X, _ROBINSON_MX)
    Y = spline(_ROBINSON_Y, _ROBINSON_MY)
    x = f"({dlit_sql(_ROBINSON_XSCALE * R_SPHERE)} * {X} * radians({lon}))"
    y = f"({dlit_sql(_ROBINSON_YSCALE * R_SPHERE)} * {Y} * {sign}(cast({lat} as double)))"
    return x, y


def robinson_forward_sql(lon: str, lat: str) -> tuple[str, str]:
    """Robinson in DuckDB text (the oracle): ``[...]`` list literals
    with 1-indexed ``list[k]`` lookup."""
    return _robinson_sql(
        lon, lat, lambda items: f"[{items}]", lambda arr, k: f"({arr}[{k}])",
        "sign",
    )


def robinson_forward_spark_sql(lon: str, lat: str) -> tuple[str, str]:
    """Robinson in Spark text (the engine): ``array(...)`` literals
    with 1-based ``element_at`` lookup."""
    return _robinson_sql(
        lon, lat, lambda items: f"array({items})",
        lambda arr, k: f"element_at({arr}, {k})", "signum",
    )


def dlit_sql(c: float) -> str:
    """A double literal valid in both dialects for any float repr
    (plain `0.9` would parse as DECIMAL; `1e-05` already has an
    exponent so the e0-suffix trick can't apply uniformly)."""
    return f"cast({float(c)!r} as double)"


def polynomial_predict_sql(A, order: int, x: str, y: str) -> tuple[str, str]:
    """SQL twin of polynomial_predict — identical term order and
    left-to-right summation so both engines evaluate the same fp tree."""
    terms = _poly_terms_sql(order, x, y)
    px = " + ".join(f"{dlit_sql(c)} * {t}" for c, t in zip(A[0], terms))
    py = " + ".join(f"{dlit_sql(c)} * {t}" for c, t in zip(A[1], terms))
    return f"({px})", f"({py})"


def haversine_km_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (
        f"(2.0 * {EARTH_RADIUS_KM!r}e0 * asin(sqrt("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
    )


# ---------------------------------------------------------------------------
# Transverse Mercator / UTM (round 5) — ONE shared stage list runs as
# Spark F.expr columns AND as the DuckDB oracle's CTE chain
# ---------------------------------------------------------------------------

def tm_forward_stages(k0: float | None = None, fe: float | None = None):
    """Krüger n^4-series transverse Mercator forward (Karney 2011, the
    same public series as kernels.projections.transverse_mercator_forward)
    as an ordered list of (column_name, sql_expr) stages over input
    columns ``lon``, ``lat``, ``lon0v`` (central meridian, deg) and
    ``fnv`` (false northing, m); returns (stages, E_expr, N_expr).

    The expression TEXT is dialect-shared: Spark applies each stage
    with F.expr, the DuckDB oracle as one CTE per stage — the engines
    therefore run the IDENTICAL operation sequence and the per-point
    meter rounding in the gate observables absorbs libm ulp noise.
    Hyperbolics are spelled via exp/ln (sinh/cosh/atanh/asinh are
    Spark-only; DuckDB lacks them): atanh(z) = ln((1+z)/(1-z))/2,
    asinh(z) = ln(z + sqrt(z^2+1)), cosh/sinh(2j*eta') share one
    exp(2*eta') stage and its integer powers."""
    from ..kernels.projections import _TM_A, _TM_ALPHA, _TM_E, UTM_FE, UTM_K0

    if k0 is None:
        k0 = UTM_K0
    if fe is None:
        fe = UTM_FE
    e = dlit_sql(_TM_E)
    kA = dlit_sql(k0 * _TM_A)
    a1, a2, a3, a4 = (dlit_sql(a) for a in _TM_ALPHA)
    half = "cast(0.5 as double)"
    one = "cast(1.0 as double)"
    stages = [
        ("lam", "radians(lon) - radians(lon0v)"),
        ("sphi", "sin(radians(lat))"),
        ("slam", "sin(lam)"),
        ("clam", "cos(lam)"),
        ("ww", f"{half} * ln(({one} + sphi) / ({one} - sphi)) "
               f"- {e} * {half} * ln(({one} + {e} * sphi) / ({one} - {e} * sphi))"),
        ("tt", f"(exp(ww) - {one} / exp(ww)) / cast(2.0 as double)"),
        ("xip", "atan2(tt, clam)"),
        ("qq", "slam / sqrt(tt * tt + clam * clam)"),
        ("etap", f"ln(qq + sqrt(qq * qq + {one}))"),
        ("ee2", "exp(cast(2.0 as double) * etap)"),
        ("ee4", "ee2 * ee2"),
        ("ee6", "ee2 * ee2 * ee2"),
        ("ee8", "ee2 * ee2 * ee2 * ee2"),
        ("xi", f"xip + {a1} * sin(cast(2.0 as double) * xip) * ((ee2 + {one} / ee2) / cast(2.0 as double)) "
               f"+ {a2} * sin(cast(4.0 as double) * xip) * ((ee4 + {one} / ee4) / cast(2.0 as double)) "
               f"+ {a3} * sin(cast(6.0 as double) * xip) * ((ee6 + {one} / ee6) / cast(2.0 as double)) "
               f"+ {a4} * sin(cast(8.0 as double) * xip) * ((ee8 + {one} / ee8) / cast(2.0 as double))"),
        ("eta", f"etap + {a1} * cos(cast(2.0 as double) * xip) * ((ee2 - {one} / ee2) / cast(2.0 as double)) "
                f"+ {a2} * cos(cast(4.0 as double) * xip) * ((ee4 - {one} / ee4) / cast(2.0 as double)) "
                f"+ {a3} * cos(cast(6.0 as double) * xip) * ((ee6 - {one} / ee6) / cast(2.0 as double)) "
                f"+ {a4} * cos(cast(8.0 as double) * xip) * ((ee8 - {one} / ee8) / cast(2.0 as double))"),
    ]
    E = f"{dlit_sql(fe)} + {kA} * eta"
    N = f"fnv + {kA} * xi"
    return stages, E, N


# UTM zone assignment over a lon/lat point — same text both dialects.
# Zone 1..60 from floor((lon+180)/6); lon = 180 exactly would index
# zone 61, clamped like PROJ does.
UTM_ZONE_SQL = (
    "cast(least(greatest(floor((lon + cast(180.0 as double)) / "
    "cast(6.0 as double)) + 1, 1), 60) as bigint)"
)
UTM_LON0_SQL = "cast(zone * 6 - 183 as double)"
UTM_FN_SQL = (
    "CASE WHEN lat < cast(0.0 as double) THEN cast(10000000.0 as double) "
    "ELSE cast(0.0 as double) END"
)


def laea_forward_sql(
    lon: str, lat: str, lat0: float, lon0: float = 0.0,
    fe: float = 0.0, fn: float = 0.0,
) -> tuple[str, str]:
    """SQL twin of kernels.projections.laea_forward (oblique Lambert
    azimuthal equal-area, Snyder §24 / EPSG 9820) — center constants
    (qp, beta0, Rq, D) from the SAME kernel helper as literals, the
    per-point authalic-latitude/B arithmetic identical text in both
    dialects.  Round 5."""
    import math

    from ..kernels.projections import laea_constants

    e, qp, b0, rq, d = laea_constants(lat0)
    el, qpl = dlit_sql(float(e)), dlit_sql(qp)
    sb0, cb0 = dlit_sql(math.sin(b0)), dlit_sql(math.cos(b0))
    rql, dl = dlit_sql(rq), dlit_sql(d)
    e2 = dlit_sql(float(1.0 - e * e))
    inv2e = dlit_sql(float(1.0 / (2.0 * e)))
    lam0 = dlit_sql(math.radians(lon0)) if lon0 else "0.0e0"
    pi = dlit_sql(math.pi)
    s = f"({el} * sin(radians({lat})))"
    q = (
        f"({e2} * (({s} / {el}) / (1.0e0 - {s} * {s}) "
        f"- {inv2e} * ln((1.0e0 - {s}) / (1.0e0 + {s}))))"
    )
    beta = f"(asin(least(greatest({q} / {qpl}, -1.0e0), 1.0e0)))"
    lam_raw = f"(radians({lon}) - {lam0})"
    lam = (
        f"({lam_raw} - 2 * {pi} * "
        f"floor(({lam_raw} + {pi}) / (2 * {pi})))"
    )
    big_b = (
        f"({rql} * sqrt(2.0e0 / (1.0e0 + {sb0} * sin({beta}) "
        f"+ {cb0} * cos({beta}) * cos({lam}))))"
    )
    E = f"({dlit_sql(fe)} + {big_b} * {dl} * cos({beta}) * sin({lam}))"
    N = (
        f"({dlit_sql(fn)} + ({big_b} / {dl}) * ({cb0} * sin({beta}) "
        f"- {sb0} * cos({beta}) * cos({lam})))"
    )
    return E, N


def idw_sql(
    lon: str,
    lat: str,
    centers: list[tuple[float, float]],
    values: list[float],
    eps: float = 1e-12,
) -> str:
    """Inverse-distance-squared interpolation as ONE shared SQL text:
    v(p) = Σ v_i w_i / Σ w_i with w_i = 1/(d_i² + eps), d_i the
    R=6367 haversine to control point i (the reference's geodesic
    distance, accuracy.py residual convention).  ``eps`` regularizes
    the exact-hit singularity smoothly (no branch — branchless keeps
    the text identical and the derivative finite); at 1e-12 km² it
    perturbs v by < 1e-9 of a value unit anywhere beyond ~1 µm of a
    control point.

    Scale shape: the control set is a LITERAL expression (broadcast by
    constant-folding, the same inline-argmin trick as the kNN query) —
    zero joins, pure whole-stage codegen over 2·|centers| terms.
    Round 5."""
    num_terms = []
    den_terms = []
    for (clon, clat), v in zip(centers, values):
        d = haversine_km_sql(lon, lat, dlit_sql(clon), dlit_sql(clat))
        w = f"(1.0e0 / (({d}) * ({d}) + {dlit_sql(eps)}))"
        num_terms.append(f"({dlit_sql(v)} * {w})")
        den_terms.append(w)
    return f"(({' + '.join(num_terms)}) / ({' + '.join(den_terms)}))"


def cea_forward_sql(
    lon: str, lat: str, lat_ts: float, lon0: float = 0.0,
    fe: float = 0.0, fn: float = 0.0,
) -> tuple[str, str]:
    """SQL twin of kernels.projections.cea_forward (ellipsoidal
    Lambert cylindrical equal-area, Snyder §10 / EPSG 9835 — the
    EASE-Grid 2.0 family).  Both coordinates are CLOSED FORM (the only
    equal-area family with a non-iterative forward): E = a k0 lam,
    N = a q / (2 k0), with (e, k0) from the SAME kernel helper as
    literals and the authalic-q arithmetic the identical text in both
    dialects.  Round 5."""
    import math

    from ..kernels.projections import A_WGS84, cea_constants

    e, k0 = cea_constants(lat_ts)
    el = dlit_sql(float(e))
    e2 = dlit_sql(float(1.0 - e * e))
    inv2e = dlit_sql(float(1.0 / (2.0 * e)))
    ak0 = dlit_sql(A_WGS84 * k0)
    a_2k0 = dlit_sql(A_WGS84 / (2.0 * k0))
    lam0 = dlit_sql(math.radians(lon0)) if lon0 else "0.0e0"
    pi = dlit_sql(math.pi)
    s = f"({el} * sin(radians({lat})))"
    q = (
        f"({e2} * (({s} / {el}) / (1.0e0 - {s} * {s}) "
        f"- {inv2e} * ln((1.0e0 - {s}) / (1.0e0 + {s}))))"
    )
    lam_raw = f"(radians({lon}) - {lam0})"
    lam = (
        f"({lam_raw} - 2 * {pi} * "
        f"floor(({lam_raw} + {pi}) / (2 * {pi})))"
    )
    E = f"({dlit_sql(fe)} + {ak0} * {lam})"
    N = f"({dlit_sql(fn)} + {a_2k0} * {q})"
    return E, N


def lcc_forward_sql(
    lon: str, lat: str, lat1: float, lat2: float, lat0: float,
    lon0: float = 0.0, fe: float = 0.0, fn: float = 0.0,
) -> tuple[str, str]:
    """SQL twin of kernels.projections.lambert_conformal_forward (LCC
    2SP, Snyder §15 / EPSG 9802) — the cone constants (n, a·F, rho0)
    are computed once driver-side by the SAME kernel helper and
    embedded as literals; the per-point math (isometric t, rho, theta)
    is identical text in both dialects.  Round 5."""
    import math

    from ..kernels.projections import A_WGS84, lcc_constants

    e, n, big_f, rho0 = lcc_constants(lat1, lat2, lat0)
    aF = dlit_sql(A_WGS84 * big_f)
    el = dlit_sql(float(e))
    nl = dlit_sql(n)
    lam0 = dlit_sql(math.radians(lon0)) if lon0 else "0.0e0"
    pi = dlit_sql(math.pi)
    s = f"({el} * sin(radians({lat})))"
    t = (
        f"(tan(0.7853981633974483e0 - radians({lat}) / 2) / "
        f"pow((1.0e0 - {s}) / (1.0e0 + {s}), {dlit_sql(e / 2.0)}))"
    )
    rho = f"({aF} * pow({t}, {nl}))"
    lam_raw = f"(radians({lon}) - {lam0})"
    lam = (
        f"({lam_raw} - 2 * {pi} * "
        f"floor(({lam_raw} + {pi}) / (2 * {pi})))"
    )
    th = f"({nl} * {lam})"
    E = f"({dlit_sql(fe)} + {rho} * sin({th}))"
    N = f"({dlit_sql(fn)} + {dlit_sql(rho0)} - {rho} * cos({th}))"
    return E, N
