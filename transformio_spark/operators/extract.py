"""N1 — span coordinate extraction (SURVEY.md §2.6).

Pulls coordinate payloads out of media-span ``media_ref`` URIs with
higher-order array functions + regexp — fully JVM-side, no per-row
Python (mandated by BASELINE.json:input_hint).  ``spans`` itself is
never rewritten, only read — the per-doc span sequence is carried
through untouched (the input_hint invariant).

px-payload coordinates are mapped to geo space through a FITTED
transform (the 3x3 affine estimated from the GCP table by the numpy
kernel — reference transforms.py:458-485 math) applied as a SQL
expression, then snapped to the 1e-4 payload lattice (media_ref
precision defines coordinate precision; see synthspec docstring).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..kernels import Affine

_NUM = r"(-?[0-9]+\.?[0-9]*)"


def px_affine_sql(affine_A, is_px: str, x: str, y: str) -> tuple[str, str]:
    """(lon, lat) SQL text of a raw payload (x, y): px payloads (where
    ``is_px`` holds) go through the fitted affine and snap to the 1e-4
    payload lattice, geo payloads pass through."""
    alon, alat = geo.polynomial_predict_sql(affine_A.tolist(), 1, x, y)
    return (
        f"CASE WHEN {is_px} THEN round({alon}, 4) ELSE {x} END",
        f"CASE WHEN {is_px} THEN round({alat}, 4) ELSE {y} END",
    )


def _parse_ref(ref):
    """Split a ``<kind>:<x>,<y>`` media_ref into (kind, x, y) with
    substring arithmetic — the codegen-friendly equivalent of the
    original three regexp_extract calls (same values on every
    well-formed ref; pinned equal to the regex path over the full
    corpus in tests/test_extract_fastpath.py).  Java regex evaluation
    was ~2x the cost of the two substring_index passes."""
    payload = F.substring_index(ref, ":", -1)
    return (
        F.substring_index(ref, ":", 1),
        F.substring_index(payload, ",", 1).cast("double"),
        F.substring_index(payload, ",", -1).cast("double"),
    )


def media_points(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Explode media spans into (doc_id, doc_num, span_pos, ref_kind,
    raw_x, raw_y [, *carry]).  span_pos is the media-span ordinal
    within the doc; ``carry`` columns (e.g. event_ts for streaming)
    pass through so no downstream self-join is ever needed."""
    media = docs.select(
        "doc_id",
        "doc_num",
        *carry,
        F.posexplode(
            F.filter("spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("span_pos", "span"),
    )
    ref = F.col("span.media_ref")
    # stage the payload substring once; raw_x and raw_y each slice it
    payload = media.withColumn("_payload", F.substring_index(ref, ":", -1))
    return payload.select(
        "doc_id",
        "doc_num",
        *carry,
        "span_pos",
        F.substring_index(ref, ":", 1).alias("ref_kind"),
        F.substring_index("_payload", ",", 1).cast("double").alias("raw_x"),
        F.substring_index("_payload", ",", -1).cast("double").alias("raw_y"),
    )


def fit_px2geo_affine(gcps_df: DataFrame) -> np.ndarray:
    """Estimate the px→geo affine from the (tiny) GCP table on the
    driver with the parity kernel (identical lstsq to the reference,
    transforms.py:476-477); the 3x3 result is broadcast into Column
    expressions — the trillion-row side is never shuffled for fitting."""
    rows = gcps_df.select("src_x", "src_y", "dst_x", "dst_y").collect()
    sx = [r.src_x for r in rows]
    sy = [r.src_y for r in rows]
    dx = [r.dst_x for r in rows]
    dy = [r.dst_y for r in rows]
    return Affine().fit(sx, sy, dx, dy).A


@functools.cache
def px2geo_affine() -> np.ndarray:
    """The px→geo affine fitted from the literal GCP fixture
    (sources/synthspec.GCPS_PX_GEO) straight through the numpy parity
    kernel — bit-identical to ``fit_px2geo_affine(synth.gcps(spark))``
    (same rows, same order, same lstsq; pinned in
    tests/test_extract_fastpath.py) with no Spark job: the
    createDataFrame+collect round trip cost ~0.4 s of driver time per
    query build.  Memoized — the fixture is a program constant, not
    data."""
    from ..sources import synthspec

    sx, sy, dx, dy = (
        [float(t[i]) for t in synthspec.GCPS_PX_GEO] for i in range(4)
    )
    return Affine().fit(sx, sy, dx, dy).A


def span_pair_points(docs: DataFrame, affine_A: np.ndarray) -> DataFrame:
    """Per-doc (primary, secondary) media coordinates in ONE row-local
    pass — no self-join, so duplicate doc keys in the source table
    cannot multiply pairs.  Docs without a secondary media span are
    filtered out.  Primary px payloads go through the fitted affine +
    lattice snap like extract_coordinates."""
    # round 6 restructure (guide §2.4/§7.2): the old formulation
    # filtered on size(filter(spans,...)) >= 2 — a deterministic
    # predicate over the constructed array, which Catalyst pushed
    # below the docs repartition all the way to the (single-split,
    # single-task) scan, serializing one full span construction over
    # the whole corpus AND re-expanding the array construction
    # textually in every derived expression.  Routing the pair through
    # a generator instead — explode of a when()-guarded one-element
    # array, which yields zero rows for docs without a secondary media
    # span — keeps the SAME rows (pinned vs the filter formulation in
    # tests/test_extract_fastpath.py) but leaves nothing for predicate
    # pushdown to move: the construction runs once per row, after the
    # exchange, in parallel.
    media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    pair = F.when(
        F.size(media) >= 2,
        F.array(
            F.struct(
                F.element_at(media, 1)["media_ref"].alias("r0"),
                F.element_at(media, 2)["media_ref"].alias("r1"),
            )
        ),
    )
    staged = docs.select(
        "doc_id", "doc_num", F.explode(pair).alias("_p")
    ).select(
        "doc_id",
        "doc_num",
        F.col("_p.r0").alias("_ref0"),
        F.col("_p.r1").alias("_ref1"),
    )
    kind0, raw_x0, raw_y0 = _parse_ref(F.col("_ref0"))
    staged = staged.withColumns(
        {"_kind0": kind0, "_rx0": raw_x0, "_ry0": raw_y0}
    )
    # fitted affine applied to px primaries (same as extract_coordinates)
    lon0, lat0 = px_affine_sql(affine_A, "_kind0 = 'px'", "_rx0", "_ry0")
    _, lon1, lat1 = _parse_ref(F.col("_ref1"))
    return staged.select(
        "doc_id",
        "doc_num",
        F.expr(lon0).alias("lon0"),
        F.expr(lat0).alias("lat0"),
        lon1.alias("lon1"),
        lat1.alias("lat1"),
    )


def finish_coordinates(
    pts: DataFrame, affine_A: np.ndarray, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The affine/snap tail of extract_coordinates over an already
    parsed (doc_id, doc_num, [carry,] span_pos, ref_kind, raw_x,
    raw_y) table — shared by the span-parsing path and the round-6
    numeric fastpath (sources/synth.media_points_numeric), so the two
    can never drift."""
    lon, lat = px_affine_sql(affine_A, "ref_kind = 'px'", "raw_x", "raw_y")
    return pts.selectExpr(
        "doc_id",
        "doc_num",
        *carry,
        "span_pos",
        "ref_kind",
        f"{lon} AS lon",
        f"{lat} AS lat",
    )


def extract_coordinates(
    docs: DataFrame, affine_A: np.ndarray, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The full N1 stage: media spans → (doc_id, span_pos, lon, lat).

    geo payloads pass through; px payloads go through the fitted
    affine and are snapped to the payload lattice (4 decimals)."""
    return finish_coordinates(media_points(docs, carry), affine_A, carry)
