"""Hierarchical spatial cell encoding (H3/S2-style, engine-native).

No H3/S2 native library ships in this environment, so the engine
carries its own hierarchical cell scheme with the same role
(BASELINE.json:north_star "H3/S2 cell encoding"): an equirectangular
quadtree over the working domain lon∈[-180,180), lat∈[-85,85), with
Z-order (Morton) cell ids so that — like H3/S2 — numerically close
cell ids are spatially close, which makes ``repartitionByRange`` on
cell id a spatial-locality partitioner.  The encoder is a pluggable
seam: an H3 backend can be dropped in where available; everything
downstream only sees ``cell_id: long``.

Every formula is written once, as SQL text (``*_sql``): the engine
applies it with ``F.expr`` and the DuckDB oracle runs the same text
(DESIGN.md §3, one expression form).  Three Column functions remain
for callers that hand in Columns: ``lon_e4``/``lat_e4`` (the S2 cell
algorithm in functions/s2.py) and ``tile_id`` (the benchmark's tile
sweep); each is pinned plan-equal to its ``*_sql`` twin in
tests/test_plan_quality.py.

Numeric-safety contract (cross-engine exactness): coordinates are
snapped to the 1e-4-degree payload lattice → scaled to exact integers
→ tiled with integer-exact arithmetic, so the same formula evaluated
by Spark/JVM and DuckDB can never disagree on a tile at any zoom ≤ 16
(see sources/synthspec.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LON_SPAN_E4 = 3_600_000  # 360 deg on the 1e-4 lattice
LAT_SPAN_E4 = 1_700_000  # 170 deg (domain [-85, 85))


def lon_e4(lon: Column) -> Column:
    """Snap a longitude to the exact integer 1e-4 lattice.  Column
    form of :func:`e4_sql`, kept for functions/s2.py."""
    return F.round(lon * 10000e0, 0).cast("long")


def lat_e4(lat: Column) -> Column:
    """Latitude twin of :func:`lon_e4` (functions/s2.py)."""
    return F.round(lat * 10000e0, 0).cast("long")


def tile_id(lon: Column, lat: Column, zoom: int) -> Column:
    """Column form of :func:`tile_id_sql`, kept for the benchmark's
    tile sweep (perfbench/run.py), which passes Columns."""
    n = 1 << zoom
    tx = F.floor((lon_e4(lon) + 1_800_000) * n / float(LON_SPAN_E4))
    ty = F.floor((lat_e4(lat) + 850_000) * n / float(LAT_SPAN_E4))
    return (ty * n + tx).cast("long")


# ---------------------------------------------------------------------------
# SQL text (Spark F.expr and the DuckDB oracle) — integer-exact formulas
# ---------------------------------------------------------------------------

def e4_sql(c: str) -> str:
    """Snap a coordinate to the exact integer 1e-4 lattice."""
    return f"cast(round(({c}) * 10000e0, 0) as bigint)"


def tile_xy_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """Equirectangular quadtree tile coordinates at ``zoom``
    (2^zoom x 2^zoom grid over the domain).  Integer-exact: the
    product (e4 + offset) * 2^zoom stays below 2^53, and IEEE division
    by the exact span is correctly rounded, so floor() is stable."""
    n = 1 << zoom
    tx = f"floor(({e4_sql(lon)} + 1800000) * {n} / {float(LON_SPAN_E4)!r}e0)"
    ty = f"floor(({e4_sql(lat)} + 850000) * {n} / {float(LAT_SPAN_E4)!r}e0)"
    return tx, ty


def tile_id_sql(lon: str, lat: str, zoom: int) -> str:
    """Row-major tile id: ty * 2^zoom + tx."""
    tx, ty = tile_xy_sql(lon, lat, zoom)
    return f"cast(({ty}) * {1 << zoom} + ({tx}) as bigint)"


def _interleave_sql(c: str, bits: int) -> str:
    """Spread the low ``bits`` bits of c so bit i lands at position 2i
    (classic Morton magic-mask spread), as one expression text valid
    in BOTH dialects (Spark SQL and DuckDB both parse `<<`, `|`, `&`
    on BIGINT identically)."""
    masks = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    out = f"cast({c} as bigint)"
    for shift, mask in masks:
        if shift * 2 >= 2 * bits and shift >= bits:
            continue
        out = f"(({out} | ({out} << {shift})) & {mask})"
    return out


def cell_id_sql(lon: str, lat: str, zoom: int) -> str:
    """Hierarchical Morton cell id with the zoom packed in the high
    bits: (zoom << 58) | interleave(tx, ty).  Parent/child relations
    are bit-shifts, like H3/S2 resolutions."""
    tx, ty = tile_xy_sql(lon, lat, zoom)
    mx = _interleave_sql(tx, zoom)
    my = _interleave_sql(ty, zoom)
    return (
        f"cast((cast({zoom} as bigint) << 58) "
        f"+ ({mx} | ({my} << 1)) as bigint)"
    )


def cell_parent_sql(cell: str, zoom: int, parent_zoom: int) -> str:
    """Re-key a cell to a coarser resolution (pure bit arithmetic):
    drop 2 Morton bits per zoom level and re-tag the resolution."""
    drop = 2 * (zoom - parent_zoom)
    morton = f"(cast({cell} as bigint) - (cast({zoom} as bigint) << 58))"
    return (
        f"cast((cast({parent_zoom} as bigint) << 58) "
        f"+ ({morton} >> {drop}) as bigint)"
    )


# ---------------------------------------------------------------------------
# Geohash (round 5) — the PUBLISHED base-32 cell encoding (Niemeyer
# 2008, public domain), alongside the engine-native Morton scheme:
# interoperable cell keys for joining against external geo datasets.
# ---------------------------------------------------------------------------

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits(precision: int) -> tuple[int, int]:
    if not 1 <= precision <= 10:
        # 5*10 bits of lon exceeds the exact-product budget past 10
        raise ValueError(f"geohash precision out of range: {precision}")
    total = 5 * precision
    return (total + 1) // 2, total // 2  # lon bits, lat bits


def geohash_val_sql(lon: str, lat: str, precision: int = 6) -> str:
    """The 5·precision-bit geohash INTEGER of a point — true geohash
    domain (lon [-180,180), lat [-90,90)), e4-lattice integer-exact
    bin math like tile_xy_sql, bit interleave via the Morton magic
    masks (lon takes the MSB).  ``geohash_from_val_sql`` renders it
    through the published alphabet; because GEOHASH_B32 is
    ASCII-ASCENDING (asserted in tests), fixed-precision geohash
    STRINGS order exactly like these integers — so aggregations can
    group/rank on the long and render only the surviving rows."""
    nlon, nlat = _geohash_bits(precision)
    bx = (
        f"floor(({e4_sql(lon)} + 1800000) "
        f"* {1 << nlon} / {float(LON_SPAN_E4)!r}e0)"
    )
    # lat==90 exactly is the one closed-edge input; clamp into range
    by = (
        f"least(floor(({e4_sql(lat)} + 900000) "
        f"* {1 << nlat} / {float(2 * 900_000)!r}e0), {(1 << nlat) - 1})"
    )
    if nlon > nlat:  # odd precision: lon has one extra (lowest) bit
        hi = (
            f"((({_interleave_sql(f'(cast({bx} as bigint) >> 1)', nlat)} << 1) "
            f"| {_interleave_sql(f'cast({by} as bigint)', nlat)}))"
        )
        return f"(({hi} << 1) | (cast({bx} as bigint) & 1))"
    return (
        f"(({_interleave_sql(f'cast({bx} as bigint)', nlon)} << 1) "
        f"| {_interleave_sql(f'cast({by} as bigint)', nlat)})"
    )


def geohash_from_val_sql(val: str, precision: int = 6) -> str:
    """Render a geohash integer (``geohash_val_sql``) through the
    published base-32 alphabet — 5-bit groups, MSB first, each a
    1-based ``substr`` of the alphabet (shared Spark/DuckDB dialect)."""
    chars = [
        f"substr('{GEOHASH_B32}', "
        f"cast((({val} >> {5 * (precision - 1 - j)}) & 31) + 1 as int), 1)"
        for j in range(precision)
    ]
    return "(" + " || ".join(chars) + ")"


def geohash_sql(lon: str, lat: str, precision: int = 6) -> str:
    """Geohash string of a point (Niemeyer 2008): geohash_val_sql
    rendered through the base-32 alphabet."""
    return geohash_from_val_sql(geohash_val_sql(lon, lat, precision), precision)
