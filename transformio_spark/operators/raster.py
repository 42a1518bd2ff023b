"""Tiled raster warp (SURVEY.md §2.5 ops 28-30 at scale).

A raster at 10^12-pixel scale is never one in-memory array — it is a
DataFrame of fixed-size tiles (the reference itself sketches exactly
this chunked design in commented-out code, imwarp.py:304-361).  The
warp runs as:

  phase 1 (distributed): per OUTPUT tile, backward-map its pixel grid
      through chain.inverse() and emit the integer source-pixel bbox
      it needs (NaN-safe min/max of the np.around'ed coords);
  phase 2: interval-overlap join output-tile bboxes to source-tile
      extents (both tiny relative to pixel data; the join is
      broadcastable) — this is the reference's crop-to-relevant-input
      optimization (imwarp.py:234-251) reborn as partition pruning;
  phase 3 (distributed): group source tiles per output tile, mosaic
      them, and gather with np.around nearest-neighbour semantics
      identical to the full-image kernel (kernels/warp.py).

Bit-parity contract (tested): assembling all output tiles equals the
single-array kernels.warp() output exactly, because each output pixel
center xs/ys is computed with the same fp expression
(xoff + col * xscale) and the gather uses the same rounding and the
same full-source bounds mask.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.warp import as_chain
from ..sources.synth import literal_table
from .udfs import model_from_json

TILE_SCHEMA = (
    "tile_x int, tile_y int, col0 int, row0 int, w int, h int, px binary"
)

def image_to_tiles(spark: SparkSession, im: np.ndarray, tile: int = 256) -> DataFrame:
    """Split an (h, w, 4) uint8 array into a tile DataFrame."""
    h, w = im.shape[:2]
    rows = []
    for ty, r0 in enumerate(range(0, h, tile)):
        for tx, c0 in enumerate(range(0, w, tile)):
            block = im[r0 : r0 + tile, c0 : c0 + tile]
            rows.append(
                (
                    tx, ty, c0, r0,
                    int(block.shape[1]), int(block.shape[0]),
                    bytearray(np.ascontiguousarray(block).tobytes()),
                )
            )
    return literal_table(spark, rows, TILE_SCHEMA)


def _out_grid(w: int, h: int, tile: int) -> list[tuple[int, int, int, int, int, int]]:
    grid = []
    for ty, r0 in enumerate(range(0, h, tile)):
        for tx, c0 in enumerate(range(0, w, tile)):
            grid.append(
                (tx, ty, c0, r0, min(tile, w - c0), min(tile, h - r0))
            )
    return grid


def warp_tiled(
    spark: SparkSession,
    src_tiles: DataFrame,
    src_size: tuple[int, int],
    chain_json: str,
    affine: list,
    size: tuple[int, int],
    out_tile: int = 256,
    nbands: int = 4,
    src_tile: int | None = None,
    crop: bool = False,
) -> tuple[DataFrame, list]:
    """Distributed backward-mapping warp.  Returns (out_tiles_df,
    affine6).  ``affine``/``size`` are the EXACT output geometry (use
    kernels.warp's bounds/size logic on the driver to derive them —
    passing the exact affine rather than re-deriving scales from
    bounds keeps output pixel centers bit-identical to the
    single-array kernel, so np.around can never flip).  Pass
    ``src_tile`` (the source grid pitch) to turn the source-pruning
    join into a hash equi-join (see phase 2 below).

    ``crop=True`` replicates the kernel's crop-to-relevant-input
    branch (kernels/warp.py bounds path == reference imwarp.py:
    234-251): backpredicted coords are SHIFTED by the global valid
    minimum before rounding and bounds-checked against the cropped
    dims — a different sampling lattice than the uncropped path, so
    it must be replicated for bit parity whenever the kernel ran with
    ``bounds=``.  Costs one extra distributed backpred pass (phase 0)
    to reduce the 4 global extrema to the driver."""
    imw, imh = src_size
    w, h = size
    xscale, _, xoff, _, yscale, yoff = affine

    grid = _out_grid(w, h, out_tile)
    grid_df = literal_table(
        spark, grid, "otx int, oty int, ocol0 int, orow0 int, ow int, oh int"
    )

    def backpred_for(pdf_row):
        cols = np.arange(pdf_row.ocol0, pdf_row.ocol0 + pdf_row.ow, dtype=np.float64)
        rows_ = np.arange(pdf_row.orow0, pdf_row.orow0 + pdf_row.oh, dtype=np.float64)
        cc, rr = np.meshgrid(cols, rows_)
        xs = xoff + (cc.flatten() * xscale)
        ys = yoff + (rr.flatten() * yscale)
        inv = model_from_json(chain_json).inverse()
        bx, by = inv.predict(xs, ys)
        return bx, by

    # phase 0 (crop only): global valid-coordinate extrema -> the
    # kernel's crop box + pre-round shift (per-axis NaN filtering,
    # same as the kernel)
    sx = sy = 0.0
    left_off = upper_off = 0
    eff_w, eff_h = imw, imh
    if crop:
        def minmax_iter(batches):
            for pdf in batches:
                o = {"bxmin": [], "bxmax": [], "bymin": [], "bymax": []}
                for row in pdf.itertuples():
                    bx, by = backpred_for(row)
                    xv, yv = ~np.isnan(bx), ~np.isnan(by)
                    o["bxmin"].append(float(bx[xv].min()) if xv.any() else np.inf)
                    o["bxmax"].append(float(bx[xv].max()) if xv.any() else -np.inf)
                    o["bymin"].append(float(by[yv].min()) if yv.any() else np.inf)
                    o["bymax"].append(float(by[yv].max()) if yv.any() else -np.inf)
                yield pd.DataFrame(o)

        mm = (
            grid_df.mapInPandas(
                minmax_iter, "bxmin double, bxmax double, bymin double, bymax double"
            )
            .agg(
                F.min("bxmin").alias("a"), F.max("bxmax").alias("b"),
                F.min("bymin").alias("c"), F.max("bymax").alias("d"),
            )
            .collect()[0]
        )
        bxmin, bxmax, bymin, bymax = mm
        # kernel crop box (PIL-crop exclusive-end quirk preserved)
        left = int(round(max(bxmin, 0)))
        upper = int(round(max(bymin, 0)))
        right = int(round(min(bxmax, imw - 1)))
        lower = int(round(min(bymax, imh - 1)))
        left_off, upper_off = max(left, 0), max(upper, 0)
        eff_w = max(right, 0) - left_off
        eff_h = max(lower, 0) - upper_off
        sx = bxmin if bxmin > 0 else 0.0
        sy = bymin if bymin > 0 else 0.0

    # phase 1: per-output-tile integer source bbox
    def bbox_iter(batches):
        for pdf in batches:
            out = {"otx": [], "oty": [], "cmin": [], "cmax": [], "rmin": [], "rmax": []}
            for row in pdf.itertuples():
                bx, by = backpred_for(row)
                ok = ~(np.isnan(bx) | np.isnan(by))
                out["otx"].append(row.otx)
                out["oty"].append(row.oty)
                if ok.any():
                    ci = np.around(bx[ok] - sx, 0).astype(int) + left_off
                    ri = np.around(by[ok] - sy, 0).astype(int) + upper_off
                    out["cmin"].append(int(ci.min()))
                    out["cmax"].append(int(ci.max()))
                    out["rmin"].append(int(ri.min()))
                    out["rmax"].append(int(ri.max()))
                else:
                    out["cmin"].append(0)
                    out["cmax"].append(-1)
                    out["rmin"].append(0)
                    out["rmax"].append(-1)
            yield pd.DataFrame(out)

    bboxes = grid_df.mapInPandas(
        bbox_iter, "otx int, oty int, cmin int, cmax int, rmin int, rmax int"
    )

    # phase 2: join output-tile bboxes to the source tiles they need.
    # When the source grid pitch is known (src_tile), the bbox expands
    # to explicit (tile_x, tile_y) keys and the join is a HASH
    # equi-join — at scale both sides are metadata tables with
    # millions of rows, and an interval BNLJ there would be quadratic.
    # Unknown pitch falls back to the interval-overlap join.
    st = src_tiles.select(
        "tile_x", "tile_y", "col0", "row0", "w", "h", "px"
    )
    if src_tile:
        n_tx = (imw + src_tile - 1) // src_tile
        n_ty = (imh + src_tile - 1) // src_tile
        tx_lo = F.greatest(F.floor(F.col("cmin") / src_tile), F.lit(0))
        tx_hi = F.least(F.floor(F.col("cmax") / src_tile), F.lit(n_tx - 1))
        ty_lo = F.greatest(F.floor(F.col("rmin") / src_tile), F.lit(0))
        ty_hi = F.least(F.floor(F.col("rmax") / src_tile), F.lit(n_ty - 1))
        keys = F.flatten(
            F.transform(
                F.sequence(ty_lo, ty_hi),
                lambda ty: F.transform(
                    F.sequence(tx_lo, tx_hi),
                    lambda tx: F.struct(
                        tx.cast("int").alias("tile_x"),
                        ty.cast("int").alias("tile_y"),
                    ),
                ),
            )
        )
        # empty range (bbox outside the source) -> null key, left join
        # keeps the grid row so the output tile still renders (black)
        expanded = bboxes.withColumn(
            "_k",
            F.explode_outer(
                F.when(
                    (F.col("cmax") >= F.col("cmin"))
                    & (tx_hi >= tx_lo) & (ty_hi >= ty_lo),
                    keys,
                )
            ),
        )
        matched = expanded.join(
            st,
            on=(
                (expanded["_k.tile_x"] == st.tile_x)
                & (expanded["_k.tile_y"] == st.tile_y)
            ),
            how="left",
        ).drop("_k")
    else:
        cond = (
            (st.col0 <= F.col("cmax"))
            & (st.col0 + st.w - 1 >= F.col("cmin"))
            & (st.row0 <= F.col("rmax"))
            & (st.row0 + st.h - 1 >= F.col("rmin"))
        )
        matched = bboxes.join(st, on=cond, how="left")

    # phase 3: mosaic + gather per output tile
    meta = {g[0:2]: g for g in _out_grid(w, h, out_tile)}

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        otx, oty = key
        _, _, ocol0, orow0, ow, oh = meta[(otx, oty)]
        bx, by = backpred_for(
            type("R", (), {"ocol0": ocol0, "orow0": orow0, "ow": ow, "oh": oh})
        )
        out = np.zeros((oh, ow, 4), dtype=np.uint8)
        have_src = pdf["px"].notna().any()
        if have_src:
            cmin = int(pdf["cmin"].iloc[0])
            cmax = int(pdf["cmax"].iloc[0])
            rmin = int(pdf["rmin"].iloc[0])
            rmax = int(pdf["rmax"].iloc[0])
            c0 = max(cmin, 0)
            r0 = max(rmin, 0)
            c1 = min(cmax, imw - 1)
            r1 = min(rmax, imh - 1)
            if c1 >= c0 and r1 >= r0:
                mosaic = np.zeros((r1 - r0 + 1, c1 - c0 + 1, nbands), dtype=np.uint8)
                for srow in pdf.itertuples():
                    if srow.px is None:
                        continue
                    block = np.frombuffer(bytes(srow.px), dtype=np.uint8).reshape(
                        (srow.h, srow.w, nbands)
                    )
                    # intersection of this source tile with the mosaic
                    ic0 = max(srow.col0, c0)
                    ic1 = min(srow.col0 + srow.w - 1, c1)
                    ir0 = max(srow.row0, r0)
                    ir1 = min(srow.row0 + srow.h - 1, r1)
                    if ic1 < ic0 or ir1 < ir0:
                        continue
                    mosaic[
                        ir0 - r0 : ir1 - r0 + 1, ic0 - c0 : ic1 - c0 + 1
                    ] = block[
                        ir0 - srow.row0 : ir1 - srow.row0 + 1,
                        ic0 - srow.col0 : ic1 - srow.col0 + 1,
                    ]
                bpc = bx.reshape((oh, ow))
                bpr = by.reshape((oh, ow))
                valid = ~(np.isnan(bpc) | np.isnan(bpr))
                # crop path: shift BEFORE rounding and bounds-check
                # against cropped dims (kernel bounds branch); sx=sy=0
                # and eff==im dims otherwise — identical lattice
                bpc = np.around(bpc - sx, 0).astype(int)
                bpr = np.around(bpr - sy, 0).astype(int)
                inb = (bpc >= 0) & (bpc < eff_w) & (bpr >= 0) & (bpr < eff_h)
                mask = valid & inb
                src_c = bpc[mask] + left_off - c0
                src_r = bpr[mask] + upper_off - r0
                if nbands == 4:
                    out[mask] = mosaic[src_r, src_c]
                else:
                    out[mask, :3] = mosaic[src_r, src_c]
                    out[mask, -1] = 255
        return pd.DataFrame(
            {
                "tile_x": [otx], "tile_y": [oty],
                "col0": [ocol0], "row0": [orow0],
                "w": [ow], "h": [oh],
                "px": [bytearray(out.tobytes())],
            }
        )

    out_tiles = matched.groupBy("otx", "oty").applyInPandas(render, TILE_SCHEMA)
    return out_tiles, affine


def resize_tiles(
    spark: SparkSession,
    src_tiles: DataFrame,
    src_size: tuple[int, int],
    out_size: tuple[int, int],
    out_tile: int = 256,
    nbands: int = 4,
) -> DataFrame:
    """Distributed area-average downsample (the tiled twin of
    kernels.warp.area_resize, used for the warp ``maxdim`` option at
    scale).  Each output tile computes its windowed row/col weight
    matrices against GLOBAL source coordinates (kernels.warp.
    area_weights), interval-joins only the source tiles covering its
    source span, mosaics them, and applies Wr @ mosaic @ Wc^T per
    band.  For dyadic ratios the result is bit-equal to the
    whole-image area_resize (weights are exactly representable);
    tested in tests/test_warp.py."""
    from ..kernels.warp import area_weights

    imw, imh = src_size
    nw, nh = out_size
    grid = []
    for (otx, oty, ocol0, orow0, ow, oh) in _out_grid(nw, nh, out_tile):
        _, jc0, jc1 = area_weights(imw, nw, ocol0, ocol0 + ow)
        _, jr0, jr1 = area_weights(imh, nh, orow0, orow0 + oh)
        grid.append((otx, oty, jc0, jc1 - 1, jr0, jr1 - 1))
    grid_df = literal_table(
        spark, grid, "otx int, oty int, cmin int, cmax int, rmin int, rmax int"
    )
    st = src_tiles.select("col0", "row0", "w", "h", "px")
    cond = (
        (st.col0 <= F.col("cmax"))
        & (st.col0 + st.w - 1 >= F.col("cmin"))
        & (st.row0 <= F.col("rmax"))
        & (st.row0 + st.h - 1 >= F.col("rmin"))
    )
    matched = grid_df.join(st, on=cond, how="left")
    meta = {g[0:2]: g for g in _out_grid(nw, nh, out_tile)}

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        otx, oty = key
        _, _, ocol0, orow0, ow, oh = meta[(otx, oty)]
        Wc, jc0, jc1 = area_weights(imw, nw, ocol0, ocol0 + ow)
        Wr, jr0, jr1 = area_weights(imh, nh, orow0, orow0 + oh)
        mosaic = np.zeros((jr1 - jr0, jc1 - jc0, nbands), dtype=np.uint8)
        for srow in pdf.itertuples():
            if srow.px is None:
                continue
            block = np.frombuffer(bytes(srow.px), dtype=np.uint8).reshape(
                (srow.h, srow.w, nbands)
            )
            ic0, ic1 = max(srow.col0, jc0), min(srow.col0 + srow.w, jc1)
            ir0, ir1 = max(srow.row0, jr0), min(srow.row0 + srow.h, jr1)
            if ic1 <= ic0 or ir1 <= ir0:
                continue
            mosaic[ir0 - jr0:ir1 - jr0, ic0 - jc0:ic1 - jc0] = block[
                ir0 - srow.row0:ir1 - srow.row0, ic0 - srow.col0:ic1 - srow.col0
            ]
        h_, w_ = mosaic.shape[:2]
        tmp = Wr @ mosaic.reshape(h_, w_ * nbands).astype(np.float64)
        tmp = tmp.reshape(oh, w_, nbands).transpose(1, 0, 2).reshape(w_, oh * nbands)
        out = (Wc @ tmp).reshape(ow, oh, nbands).transpose(1, 0, 2)
        out = np.clip(np.around(out, 0), 0, 255).astype(np.uint8)
        return pd.DataFrame(
            {
                "tile_x": [otx], "tile_y": [oty],
                "col0": [ocol0], "row0": [orow0],
                "w": [ow], "h": [oh],
                "px": [bytearray(out.tobytes())],
            }
        )

    return matched.groupBy("otx", "oty").applyInPandas(render, TILE_SCHEMA)


def warp_tiles(
    spark: SparkSession,
    src_tiles: DataFrame,
    src_size: tuple[int, int],
    transform,
    size=None,
    bounds=None,
    maxdim=None,
    fromcrs=None,
    tocrs=None,
    out_tile: int = 256,
    nbands: int = 4,
    src_tile: int | None = None,
) -> tuple[DataFrame, list, tuple[int, int]]:
    """Full-option distributed warp — the tiled twin of kernels.warp
    with the same signature semantics (maxdim downsample-prepend,
    imwarp.py:111-127; fromcrs/tocrs MapProjection append,
    imwarp.py:132-135).  Plans the chain/affine/size on the driver
    with the shared kernels.warp helpers, resizes the tile table
    distributedly when maxdim bites, then runs warp_tiled.  Returns
    (out_tiles_df, affine6, (w, h))."""
    from ..kernels.warp import as_chain, output_geometry, prepare_chain

    chain, eff_size, ratio = prepare_chain(
        as_chain(transform), src_size, maxdim=maxdim, fromcrs=fromcrs,
        tocrs=tocrs,
    )
    if ratio < 1:
        src_tiles = resize_tiles(
            spark, src_tiles, src_size, eff_size, out_tile=out_tile,
            nbands=nbands,
        )
        src_tile = out_tile  # re-gridded by resize_tiles
    affine, out_size = output_geometry(eff_size, chain, size=size, bounds=bounds)
    out_tiles, _ = warp_tiled(
        spark, src_tiles, eff_size, json.dumps(chain.to_json()), affine,
        out_size, out_tile=out_tile, nbands=nbands, src_tile=src_tile,
    )
    return out_tiles, affine, out_size


def rasterize_tiles(
    spark: SparkSession,
    geoj,
    size: tuple[int, int] | None = None,
    imbounds=None,
    out_tile: int = 256,
    fillcolor="blue",
    fillsize=10,
    outlinecolor=None,
    outlinewidth=1,
) -> tuple[DataFrame, tuple[int, int], tuple]:
    """Distributed GeoJSON rasterization — the tiled twin of
    kernels.draw.draw_geojson.  The (tiny) image-space geometry list
    is broadcast; each output tile renders its pixel window with the
    SAME per-pixel predicates at GLOBAL pixel coordinates, so the
    assembled mosaic is bit-equal to the whole-image kernel (tested).
    Geometries whose padded image-space bbox misses a tile are skipped
    — the rasterizer's partition-pruning analog.  Returns
    (tiles_df, (w, h), imbounds)."""
    from ..kernels.draw import _geom_list, plan_draw, render_geoms
    from ..kernels.vector import get_bbox

    geoms_img, (w, h), imbounds = plan_draw(geoj, size, imbounds)
    pad = max(fillsize / 2.0, outlinewidth / 2.0) + 1.0
    boxes = [get_bbox(g) for g in geoms_img]
    grid = _out_grid(w, h, out_tile)
    grid_df = literal_table(
        spark, grid, "otx int, oty int, ocol0 int, orow0 int, ow int, oh int"
    )
    geoms_b = spark.sparkContext.broadcast(list(zip(geoms_img, boxes)))

    def render(batches):
        for pdf in batches:
            out_rows = {c: [] for c in
                        ("tile_x", "tile_y", "col0", "row0", "w", "h", "px")}
            for r in pdf.itertuples():
                canvas = np.zeros((r.oh, r.ow, 4), dtype=np.uint8)
                # draw-order preserved; only bbox-overlapping geoms run
                touching = [
                    g for g, (bx1, by1, bx2, by2) in geoms_b.value
                    if bx2 + pad >= r.ocol0 and bx1 - pad < r.ocol0 + r.ow
                    and by2 + pad >= r.orow0 and by1 - pad < r.orow0 + r.oh
                ]
                if touching:
                    render_geoms(
                        touching, canvas,
                        fillcolor=fillcolor, fillsize=fillsize,
                        outlinecolor=outlinecolor, outlinewidth=outlinewidth,
                        col0=r.ocol0, row0=r.orow0,
                    )
                out_rows["tile_x"].append(r.otx)
                out_rows["tile_y"].append(r.oty)
                out_rows["col0"].append(r.ocol0)
                out_rows["row0"].append(r.orow0)
                out_rows["w"].append(r.ow)
                out_rows["h"].append(r.oh)
                out_rows["px"].append(bytearray(canvas.tobytes()))
            yield pd.DataFrame(out_rows)

    return grid_df.mapInPandas(render, TILE_SCHEMA), (w, h), imbounds


def tiles_to_image(rows, width: int, height: int) -> np.ndarray:
    """Reassemble collected tile rows into one (h, w, 4) array."""
    out = np.zeros((height, width, 4), dtype=np.uint8)
    for r in rows:
        block = np.frombuffer(bytes(r.px), dtype=np.uint8).reshape((r.h, r.w, 4))
        out[r.row0 : r.row0 + r.h, r.col0 : r.col0 + r.w] = block
    return out


def zonal_stats(
    tiles_df: DataFrame,
    boxes_df: DataFrame,
    sx: float,
    sy: float,
    lon0: float,
    lat0: float,
) -> DataFrame:
    """Zonal statistics: per-region aggregates over raster pixels
    (count + per-band sums), the raster↔vector operator that pairs
    with warp/rasterize (reference scope: imwarp.py grids ↔
    vector.py geometries; this is their join).

    North-up affine geo-transform only (lon = lon0 + (col+0.5)·sx,
    lat = lat0 + (row+0.5)·sy, sy < 0) — pixel CENTERS are assigned,
    half-open box containment ([min, max)), matching the point join's
    convention.

    Scale shape: region boxes are broadcast and interval-overlap-
    joined to TILE BBOXES (tiny vs pixel data — partition pruning, the
    same trick as warp's phase 2), then each surviving (tile, region)
    pair decodes its pixels entirely JVM-side in whole-stage codegen
    (per-pixel rows exist only transiently between the index explode
    and the map-side partial aggregate — no Python), and one final
    shuffle sums the map-side partials per region.  At 10^12 pixels
    the codegen pass is the distributed unit and the shuffle carries
    only the combined per-partition partials."""
    if sy >= 0 or sx <= 0:
        raise ValueError(
            "zonal_stats expects a north-up affine: sx > 0, sy < 0"
        )
    t = tiles_df.select(
        "tile_x", "tile_y", "col0", "row0", "w", "h", "px",
        (F.lit(lon0) + F.col("col0") * F.lit(sx)).alias("_lon_lo"),
        (F.lit(lon0) + (F.col("col0") + F.col("w")) * F.lit(sx)).alias("_lon_hi"),
        (F.lit(lat0) + (F.col("row0") + F.col("h")) * F.lit(sy)).alias("_lat_lo"),
        (F.lit(lat0) + F.col("row0") * F.lit(sy)).alias("_lat_hi"),
    )
    overlap = (
        (F.col("_lon_lo") < F.col("lon_max"))
        & (F.col("_lon_hi") > F.col("lon_min"))
        & (F.col("_lat_lo") < F.col("lat_max"))
        & (F.col("_lat_hi") > F.col("lat_min"))
    )
    pairs = t.join(F.broadcast(boxes_df), on=overlap, how="inner")

    # round 6 (guide §4.1, same rewrite as the warp checksums): the
    # per-(tile, region) pixel fold was an interpreted F.aggregate
    # with a 4-field struct accumulator.  Exploding the pixel index
    # keeps per-pixel rows transient between the Generate and the
    # map-side partial aggregate (band_histogram's documented shape)
    # while the byte decode + containment test run in whole-stage
    # codegen; integer sums are order-independent, so values are
    # bit-identical.
    def _byte(j):  # 1-based byte offset into the tile's RGBA bytes
        return F.conv(
            F.hex(F.substring(F.col("px"), j, F.lit(1))), 16, 10
        ).cast("long")

    i = F.col("_i")
    lon = (
        F.lit(lon0)
        + (F.col("col0") + (i % F.col("w")) + F.lit(0.5)) * F.lit(sx)
    )
    lat = (
        F.lit(lat0)
        + (F.col("row0") + F.floor(i / F.col("w")) + F.lit(0.5))
        * F.lit(sy)
    )
    inside = (
        (lon >= F.col("lon_min")) & (lon < F.col("lon_max"))
        & (lat >= F.col("lat_min")) & (lat < F.col("lat_max"))
    )
    per_px = pairs.select(
        "region_id",
        "col0",
        "row0",
        "w",
        "h",
        "px",
        "lon_min",
        "lon_max",
        "lat_min",
        "lat_max",
        F.explode(
            F.sequence(F.lit(0), F.col("w") * F.col("h") - 1)
        ).alias("_i"),
    ).where(inside)
    return (
        per_px.select(
            "region_id",
            _byte(i * 4 + 1).alias("_r"),
            _byte(i * 4 + 2).alias("_g"),
            _byte(i * 4 + 3).alias("_b"),
        )
        .groupBy("region_id")
        .agg(
            F.count(F.lit(1)).alias("n_pixels"),
            F.sum("_r").alias("sum_r"),
            F.sum("_g").alias("sum_g"),
            F.sum("_b").alias("sum_b"),
        )
        .orderBy("region_id")
    )


def band_histogram(tiles_df: DataFrame) -> DataFrame:
    """Exact per-band pixel-value histogram over a tiled raster — the
    contrast-stretch / equalization primitive (reference scope: none;
    additive raster analytics over the same tile layout warp and
    zonal_stats use).

    Scale shape: the classic distributed histogram — one linear pass
    over the tile bytes (per-pixel rows exist only transiently between
    the explode and the map-side partial aggregate, which collapses
    every partition to <= 4*256 (band, value) keys), then ONE tiny
    shuffle of those keys.  All byte decoding is JVM-side
    (conv(hex(substring)) — the same idiom as the zonal/warp folds);
    no Python anywhere."""
    px = tiles_df.select(
        "px",
        F.explode(
            F.sequence(F.lit(0), F.col("w") * F.col("h") - 1)
        ).alias("i"),
    )

    def _byte(j):
        return F.conv(
            F.hex(F.substring(F.col("px"), j, F.lit(1))), 16, 10
        ).cast("int")

    bands = F.array(
        *[
            F.struct(
                F.lit(name).alias("band"),
                _byte(F.col("i") * 4 + off + 1).alias("value"),
            )
            for off, name in enumerate(("r", "g", "b", "a"))
        ]
    )
    return (
        px.select(F.explode(bands).alias("bv"))
        .groupBy(
            F.col("bv.band").alias("band"), F.col("bv.value").alias("value")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pixels"))
    )
