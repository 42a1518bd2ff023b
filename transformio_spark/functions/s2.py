"""S2-style spherical cell index: cube-face + quadratic ST + Hilbert.

The north star names "H3/S2 cell encoding" explicitly; the engine's
native Morton quadtree (functions/tiles.py) covers the hierarchical
role, and this module adds the *spherical* scheme with S2's geometry:

1. lon/lat (snapped to the exact 1e-4 payload lattice, see
   functions/tiles.lon_e4) → unit-sphere XYZ,
2. cube-face selection (largest-|component| axis, the S2 face
   numbering and per-face UV orientation from the public S2 geometry
   library docs, s2geometry.io/devguide/s2cell_hierarchy),
3. the quadratic ST reprojection s = 0.5*sqrt(1+3u) (S2's
   area-equalizing default — linear ST gives 5.2x cell-area spread,
   quadratic 2.1x),
4. leaf (i, j) at a fixed ``level`` and the position along the
   Hilbert space-filling curve of that face.

The cell id is ``face * 4^level + hilbert_d`` — an honest label:
this is NOT bit-compatible with the canonical S2CellId 64-bit layout
(no S2 library exists in this environment to pin against; the
canonical layout also interleaves a lookup-table Hilbert variant),
but it has the properties the engine needs from S2 and that the
downstream operators exploit:

- **hierarchical prefix nesting**: the level-k ancestor is
  ``d >> 2*(level-k)`` (Hilbert positions nest — pinned by
  tests/test_s2_hex.py against a brute sweep), so rollups and
  parent re-keying are pure bit arithmetic like tiles.cell_parent_sql;
- **spatial locality**: consecutive ids are unit-step adjacent cells,
  so ``repartitionByRange`` on the id is a spatial partitioner with
  strictly better locality than the Morton id (no Z-order jumps);
- **bounded area distortion** via the quadratic ST (vs the
  equirectangular quadtree's unbounded pole stretch).

Spark side: pure Column expressions — the Hilbert walk is a 4-state
transducer unrolled to ``level`` rounds of shift/and/element_at, all
inside whole-stage codegen (no higher-order functions, no Python in
the plan; see the LUT note above :func:`hilbert_d`).  DuckDB oracle
side
(:func:`s2_cells_sql`): an *independently formulated* recursive CTE
that walks the same per-level recurrence, so the driver's hash gate
cross-checks two different executions of the published algorithm.

Reference parity note: the reference has no cell index at all —
transformio warps whole in-memory arrays (reference/transformio/
imwarp.py) — a trillion-row engine needs the index to make spatial
joins equi-joins; this module is additive scale machinery.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tiles import lat_e4, lon_e4

#: degrees → radians, the exact double for pi/180 (written as a
#: literal on BOTH engines so neither's radians() builtin matters).
DEG = 0.017453292519943295

S2_LEVEL = 12  # gate-query level: 4096x4096 per face, ~2.4 km cells


def _xyz(lon: Column, lat: Column) -> tuple[Column, Column, Column]:
    """Unit-sphere coordinates from lattice-snapped degrees.  Both
    engines divide the same exact integer by 10000.0 and multiply by
    the same DEG literal, so the trig inputs are bit-identical."""
    lam = (lon_e4(lon) / F.lit(10000.0)) * F.lit(DEG)
    phi = (lat_e4(lat) / F.lit(10000.0)) * F.lit(DEG)
    cphi = F.cos(phi)
    return cphi * F.cos(lam), cphi * F.sin(lam), F.sin(phi)


def _st(u: Column) -> Column:
    """Quadratic UV→ST (S2's default projection)."""
    return F.when(u >= 0, 0.5 * F.sqrt(1.0 + 3.0 * u)).otherwise(
        1.0 - 0.5 * F.sqrt(1.0 - 3.0 * u)
    )


def _ij(s: Column, level: int) -> Column:
    n = 1 << level
    return F.least(
        F.greatest(F.floor(s * F.lit(float(n))).cast("long"), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")


#: The textbook xy2d recurrence mutates (x, y) per level — swap, or
#: swap + full complement (n-1-v == ~v in level bits).  Those two
#: transforms generate the Klein four-group {I, S, C, SC} (each
#: self-inverse, all commuting), so the walk is a 4-state transducer:
#: state = (swap, comp) as 2 bits, and per level both the emitted
#: base-4 digit and the next state are lookups on
#: (state, raw_x_bit, raw_y_bit).  The 16-entry tables below are
#: derived from the recurrence (derivation + exhaustive fold==LUT
#: equivalence pinned in tests/test_s2_hex.py); packed 2 bits/entry
#: they fit one int, but Spark-side they are literal arrays so the
#: whole per-level step is element_at + shifts — plain codegen.
HILBERT_DLUT = 916201140
HILBERT_SLUT = 1336203570
_DTAB = [(HILBERT_DLUT >> (2 * k)) & 3 for k in range(16)]
_STAB = [(HILBERT_SLUT >> (2 * k)) & 3 for k in range(16)]


def hilbert_d(x: Column, y: Column, level: int) -> Column:
    """Position of integer cell (x, y) on the level-``level`` Hilbert
    curve — the classic xy2d recurrence reformulated as a 4-state
    transducer (see the LUT note above) so the whole walk is ``level``
    rounds of shift/and/element_at inside whole-stage codegen: no
    higher-order functions, no struct state, ~50x the interpreted
    F.aggregate fold this replaced (profiled at sf0.1)."""
    darr = F.array(*[F.lit(v).cast("long") for v in _DTAB])
    sarr = F.array(*[F.lit(v).cast("int") for v in _STAB])
    xx, yy = x.cast("long"), y.cast("long")
    st = F.lit(0).cast("int")
    d = F.lit(0).cast("long")
    for i in range(level - 1, -1, -1):
        raw = F.shiftright(xx, i).bitwiseAND(F.lit(1)) * F.lit(2) + F.shiftright(
            yy, i
        ).bitwiseAND(F.lit(1))
        k = (st * 4 + raw.cast("int") + F.lit(1)).cast("int")
        d = d + F.shiftleft(F.element_at(darr, k), 2 * i)
        st = F.element_at(sarr, k)
    return d


def with_s2_cell(df, lon: Column, lat: Column, level: int = S2_LEVEL,
                 out: str = "s2_cell"):
    """Append an S2-style cell-id column (face * 4^level + hilbert_d).

    Two staged projections, deliberately: the Hilbert unroll references
    its (i, j) inputs O(level^2) times, so they must be MATERIALIZED
    attributes, not inline expression trees — feeding the raw trig/
    face/uv chain straight into :func:`hilbert_d` duplicates it ~78x
    and blows up optimizer + codegen time (measured: minutes, even on
    a 6-row frame).  CollapseProject keeps the split (non-cheap
    producers consumed more than once are not re-inlined)."""
    # collision guard (ADVICE r05): the fixed temp names would make
    # the staged selects below fail with a confusing duplicate-name
    # error (or silently shadow) if the caller already carries them
    temp_names = (
        "_s2_x", "_s2_y", "_s2_z", "_s2_ax", "_s2_mj", "_s2_face",
        "_s2_u", "_s2_v", "_s2_s", "_s2_t", "_s2_i", "_s2_j",
        "_h_st", "_h_d",
    )
    clash = [c for c in df.columns if c in temp_names]
    if clash:
        raise ValueError(
            f"with_s2_cell: input columns {clash} collide with the "
            "operator's temp names"
        )
    # round 6: stage EVERY intermediate of the face/uv/st chain as a
    # materialized column.  Inlining duplicated the trig subtree tens
    # of times across the face/u/v CASE branches — and CASE branches
    # defeat codegen subexpression elimination (the round-5 Mollweide
    # lesson), so the duplication was paid at ANALYSIS time and at
    # RUNTIME.  Per-value double ops are identical, so results are
    # bit-equal (pinned by the s2 suite + the driver oracle).
    x, y, z = _xyz(lon, lat)
    tmp = df.withColumns(
        {"_s2_x": x, "_s2_y": y, "_s2_z": z}
    )
    xc, yc, zc = F.col("_s2_x"), F.col("_s2_y"), F.col("_s2_z")
    ax, ay, az = F.abs(xc), F.abs(yc), F.abs(zc)
    # ties on equal |components| resolve x-before-y-before-z via the
    # exact same >= comparison chain in the SQL twin
    axis = (
        F.when((ax >= ay) & (ax >= az), F.lit(0))
        .when(ay >= az, F.lit(1))
        .otherwise(F.lit(2))
    )
    tmp = tmp.withColumns({"_s2_ax": axis})
    major = (
        F.when(F.col("_s2_ax") == 0, xc)
        .when(F.col("_s2_ax") == 1, yc)
        .otherwise(zc)
    )
    tmp = tmp.withColumns(
        {
            "_s2_face": (
                F.col("_s2_ax") + F.when(major < 0, F.lit(3)).otherwise(F.lit(0))
            ).cast("long")
        }
    )
    fc = F.col("_s2_face")
    u = (
        F.when(fc == 0, yc / xc)
        .when(fc == 1, -xc / yc)
        .when(fc == 2, -xc / zc)
        .when(fc == 3, zc / xc)
        .when(fc == 4, zc / yc)
        .otherwise(-yc / zc)
    )
    v = (
        F.when(fc == 0, zc / xc)
        .when(fc == 1, zc / yc)
        .when(fc == 2, -yc / zc)
        .when(fc == 3, yc / xc)
        .when(fc == 4, -xc / yc)
        .otherwise(-xc / zc)
    )
    tmp = tmp.withColumns({"_s2_u": u, "_s2_v": v})
    tmp = tmp.withColumns(
        {"_s2_s": _st(F.col("_s2_u")), "_s2_t": _st(F.col("_s2_v"))}
    )
    tmp = tmp.withColumns(
        {
            "_s2_i": _ij(F.col("_s2_s"), level),
            "_s2_j": _ij(F.col("_s2_t"), level),
        }
    )
    # round 6: stage the transducer STATE per level too.  In the
    # single-Column hilbert_d form each level's lookup key k embeds
    # the previous state expression, and k feeds BOTH the emitted
    # digit and the next state — the tree doubles per level
    # (~2^level subtrees), which made every query (re)build pay
    # seconds of analysis/codegen before any row moved (bench best-of
    # -2 rebuilds the DataFrame per repeat, so it paid twice).
    # Materializing (_h_st, _h_d) per level keeps the plan linear in
    # ``level``; per-row double/long ops are identical, so values are
    # bit-equal (pinned in tests/test_s2_hex.py).
    darr = F.array(*[F.lit(v).cast("long") for v in _DTAB])
    sarr = F.array(*[F.lit(v).cast("int") for v in _STAB])
    tmp = tmp.withColumns(
        {"_h_st": F.lit(0).cast("int"), "_h_d": F.lit(0).cast("long")}
    )
    # materialize every CHUNK levels: inside a chunk the state tree
    # doubles per level (2^CHUNK small subtrees — fine); across
    # chunks it is cut back to a materialized attribute, keeping both
    # the analyzed plan and the generated code linear in ``level``
    chunk = 3
    cur_st, cur_d = F.col("_h_st"), F.col("_h_d")
    pending = 0
    for n, i in enumerate(range(level - 1, -1, -1)):
        raw = F.shiftright(F.col("_s2_i"), i).bitwiseAND(F.lit(1)) * F.lit(
            2
        ) + F.shiftright(F.col("_s2_j"), i).bitwiseAND(F.lit(1))
        k = (cur_st * 4 + raw.cast("int") + F.lit(1)).cast("int")
        cur_d = cur_d + F.shiftleft(F.element_at(darr, k), 2 * i)
        cur_st = F.element_at(sarr, k)
        pending += 1
        if pending == chunk or i == 0:
            tmp = tmp.withColumns({"_h_d": cur_d, "_h_st": cur_st})
            cur_st, cur_d = F.col("_h_st"), F.col("_h_d")
            pending = 0
    cell = (
        F.col("_s2_face") * F.lit(4 ** level).cast("long") + F.col("_h_d")
    ).cast("long")
    return (
        tmp.select("*", cell.alias(out))
        .drop(*temp_names)
    )


def s2_parent(cell: Column, level: int, parent_level: int) -> Column:
    """Ancestor cell id at a coarser level — pure bit arithmetic
    (Hilbert positions nest: the level-k prefix of d is the level-k
    ancestor's position)."""
    fl = F.lit(4 ** level).cast("long")
    face = F.floor(cell / fl).cast("long")
    d = cell - face * fl
    return (
        face * F.lit(4 ** parent_level).cast("long")
        + F.shiftright(d, 2 * (level - parent_level))
    ).cast("long")


# ---------------------------------------------------------------------------
# DuckDB oracle: independently formulated recursive-CTE twin
# ---------------------------------------------------------------------------

def s2_face_ij_sql(lon: str, lat: str, level: int) -> str:
    """SELECT-fragment computing (face, i, j) from the ``pts`` CTE —
    written against the same published spec as the Column builder but
    as plain nested-SELECT SQL (no shared text)."""
    n = 1 << level
    return f"""
    SELECT doc_num, span_pos, face,
           least(greatest(cast(floor(s * {float(n)!r}) as bigint), 0), {n - 1}) AS i,
           least(greatest(cast(floor(t * {float(n)!r}) as bigint), 0), {n - 1}) AS j
    FROM (
      SELECT doc_num, span_pos, face,
             CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                  ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
             CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
                  ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS t
      FROM (
        SELECT doc_num, span_pos, face,
               CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py
                         WHEN 2 THEN -px/pz WHEN 3 THEN pz/px
                         WHEN 4 THEN pz/py ELSE -py/pz END AS u,
               CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py
                         WHEN 2 THEN -py/pz WHEN 3 THEN py/px
                         WHEN 4 THEN -px/py ELSE -px/pz END AS v
        FROM (
          SELECT doc_num, span_pos, px, py, pz,
                 axis + CASE WHEN (CASE axis WHEN 0 THEN px WHEN 1 THEN py
                                   ELSE pz END) < 0 THEN 3 ELSE 0 END AS face
          FROM (
            SELECT doc_num, span_pos, px, py, pz,
                   CASE WHEN abs(px) >= abs(py) AND abs(px) >= abs(pz) THEN 0
                        WHEN abs(py) >= abs(pz) THEN 1 ELSE 2 END AS axis
            FROM (
              SELECT doc_num, span_pos,
                     cos(phi) * cos(lam) AS px,
                     cos(phi) * sin(lam) AS py,
                     sin(phi) AS pz
              FROM (
                SELECT doc_num, span_pos,
                       (cast(round({lon} * 10000) as bigint) / 10000.0) * {DEG!r} AS lam,
                       (cast(round({lat} * 10000) as bigint) / 10000.0) * {DEG!r} AS phi
                FROM pts
              )
            )
          )
        )
      )
    )"""


def s2_hilbert_cte_sql(level: int) -> str:
    """Recursive-CTE Hilbert walk over a ``fij(doc_num, span_pos,
    face, i, j)`` relation: one recursion step per level, state
    (x, y, d, remaining).  Terminal rows (remaining = 0) carry the
    final curve position in ``d``."""
    n = 1 << level
    return f"""
hil AS (
    SELECT doc_num, span_pos, face, i AS x, j AS y,
           cast(0 as bigint) AS d, {level} AS remaining
    FROM fij
    UNION ALL
    SELECT doc_num, span_pos, face,
           CASE WHEN ry = 1 THEN x
                WHEN rx = 1 THEN {n - 1} - y ELSE y END,
           CASE WHEN ry = 1 THEN y
                WHEN rx = 1 THEN {n - 1} - x ELSE x END,
           d + s * s * cast(xor(3 * rx, ry) as bigint),
           remaining - 1
    FROM (
        SELECT doc_num, span_pos, face, x, y, d, remaining,
               (cast(1 as bigint) << (remaining - 1)) AS s,
               CASE WHEN (x & (cast(1 as bigint) << (remaining - 1))) > 0
                    THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & (cast(1 as bigint) << (remaining - 1))) > 0
                    THEN 1 ELSE 0 END AS ry
        FROM hil WHERE remaining > 0
    )
)"""
