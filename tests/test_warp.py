"""Raster warp tests: reference imwarp invariants (world-affine
bounds, fitbounds/imbounds fixpoint — reference tests/test_image_warp
.py:25-61) and bit-parity of the distributed tiled warp vs the
single-array kernel."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from numpy.testing import assert_array_almost_equal, assert_array_equal

from ref_loader import REF_DATA_DIR, needs_file
from transformio_spark import kernels as k
from transformio_spark.fixtures import WORLD_AFFINE
from transformio_spark.kernels import warp as kwarp


def synth_image(size: int = 512, seed: int = 11) -> np.ndarray:
    """Seeded RGBA gradient+checker test image (FIXTURES.md §5 — no
    external data)."""
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:size, 0:size]
    r = (x * 255 // size).astype(np.uint8)
    g = (y * 255 // size).astype(np.uint8)
    b = (((x // 32 + y // 32) % 2) * 255).astype(np.uint8)
    noise = rng.integers(0, 32, (size, size), dtype=np.uint8)
    a = np.full((size, size), 255, np.uint8)
    return np.stack([r, g, np.clip(b + noise, 0, 255).astype(np.uint8), a], axis=-1)


def test_fitbounds_world_affine():
    trans = kwarp.fitbounds(2048, 1024, [-180, 90, 180, -90])
    assert_array_almost_equal(trans.A, np.array(WORLD_AFFINE), decimal=10)


def test_imbounds_world_affine():
    trans = k.Affine(A=WORLD_AFFINE)
    bounds = kwarp.imbounds(2048, 1024, trans)
    assert_array_almost_equal(bounds, (-180.0, -90.0, 180.0, 90.0), decimal=9)


def test_fitbounds_imbounds_fixpoint():
    trans = kwarp.fitbounds(640, 480, [10, 60, 40, 20])
    bounds = kwarp.imbounds(640, 480, trans)
    trans2 = kwarp.fitbounds(640, 480, [bounds[0], bounds[3], bounds[2], bounds[1]])
    assert_array_almost_equal(trans.A, trans2.A, decimal=8)


def test_warp_identityish_affine_roundtrip():
    """Warping with a pure scale+offset affine must reproduce the
    source (y-flipped output affine, same dims via diagonal
    heuristic)."""
    im = synth_image(128)
    trans = k.Affine(A=[[0.5, 0, 100.0], [0, 0.5, -30.0], [0, 0, 1]])
    out, affine = kwarp.warp(im, trans)
    assert out.shape[0] == out.shape[1] == 128
    assert affine[4] < 0  # unconditional y-flip
    # y-flip: output row r backpredicts to source row 128-r; row 0
    # lands out of bounds (row 128) → transparent (alpha 0)
    assert out[0, :, 3].max() == 0
    assert_array_equal(out[1, :, :3], im[127, :, :3])
    assert_array_equal(out[64, 10, :3], im[64, 10, :3])


def test_warp_bounds_size_tile():
    """User bounds + size → tile render (README raster-tile workflow,
    README.md:648-651), with the crop-to-relevant-input path."""
    im = synth_image(256)
    img2geo = kwarp.fitbounds(256, 256, [-180, 90, 180, -90])
    out, affine = kwarp.warp(im, img2geo, bounds=[0, 0, 180, 90], size=(64, 64))
    assert out.shape == (64, 64, 4)
    assert affine[0] == 180 / 64 and affine[5] == 90
    # the tile covers the upper-right quadrant → compare to source
    assert out[:, :, 3].max() == 255


@pytest.mark.parametrize("out_tile,src_tile", [(64, None), (100, None), (64, 96)])
def test_tiled_warp_bitwise_matches_full(spark, out_tile, src_tile):
    """The distributed tiled warp must equal the single-array kernel
    BIT FOR BIT (same bounds/size/affine), tile seams included."""
    from transformio_spark.operators import raster

    im = synth_image(256, seed=3)
    # a rotation+scale chain makes tile seams non-trivial
    rot = k.Affine(rotate=math.radians(15))
    scale = k.Affine(A=[[0.8, 0, 10], [0, 1.2, -5], [0, 0, 1]])
    chain = k.Chain([scale, rot])

    # full-image reference run (auto bounds + diagonal size heuristic)
    full, affine_full = kwarp.warp(im, chain)
    size = (full.shape[1], full.shape[0])

    tiles_df = raster.image_to_tiles(spark, im, tile=96)
    chain_json = json.dumps(chain.to_json())
    out_tiles, affine_tiled = raster.warp_tiled(
        spark, tiles_df, (256, 256), chain_json, affine_full, size,
        out_tile=out_tile, src_tile=src_tile,
    )
    assembled = raster.tiles_to_image(out_tiles.collect(), size[0], size[1])
    assert affine_tiled == pytest.approx(affine_full)
    assert_array_equal(assembled, full)


# ---------------------------------------------------------------------------
# warp options: maxdim (imwarp.py:111-127) and fromcrs/tocrs
# (imwarp.py:132-135)
# ---------------------------------------------------------------------------

def test_area_resize_dyadic_is_block_mean():
    im = synth_image(64)
    out = kwarp.area_resize(im, 32, 32)
    blocks = im.reshape(32, 2, 32, 2, 4).astype(np.float64).mean(axis=(1, 3))
    assert_array_equal(out, np.clip(np.around(blocks, 0), 0, 255).astype(np.uint8))


def test_warp_maxdim_equals_manual_downsample():
    """maxdim must equal: resize the source, prepend the 1/ratio
    pixel-scale transform (reference big2small matrix), warp."""
    im = synth_image(200)[:100]  # 200 wide, 100 tall
    trans = k.Affine(A=[[0.5, 0, -20.0], [0, 0.5, 10.0], [0, 0, 1]])
    got, aff_got = kwarp.warp(im, trans, maxdim=100)

    small = kwarp.area_resize(im, 100, 50)
    big2small = k.Polynomial(order=1, A=[[2.0, 0, 0], [0, 2.0, 0], [0, 0, 1]])
    want, aff_want = kwarp.warp(small, k.Chain([big2small, trans]))
    assert aff_got == aff_want
    assert_array_equal(got, want)


def test_warp_maxdim_noop_when_smaller():
    im = synth_image(64)
    trans = k.Affine(A=[[1.0, 0, 5.0], [0, 1.0, -3.0], [0, 0, 1]])
    a, aff_a = kwarp.warp(im, trans)
    b, aff_b = kwarp.warp(im, trans, maxdim=64)  # ratio == 1 → no-op
    assert aff_a == aff_b
    assert_array_equal(a, b)


def test_warp_fromcrs_tocrs_appends_projection():
    """fromcrs/tocrs must equal explicitly chaining the MapProjection,
    and the output affine must be in web-mercator meters."""
    im = synth_image(128)
    img2geo = kwarp.fitbounds(128, 128, [-180, 85, 180, -85])
    got, aff_got = kwarp.warp(
        im, img2geo, fromcrs="EPSG:4326", tocrs="EPSG:3857"
    )
    merc = k.MapProjection("EPSG:4326", "EPSG:3857")
    want, aff_want = kwarp.warp(im, k.Chain([img2geo, merc]))
    assert aff_got == aff_want
    assert_array_equal(got, want)
    assert abs(aff_got[2] - (-20037508.342789244)) < 1.0  # xmin in meters
    assert got[:, :, 3].max() == 255


def test_resize_tiles_bitwise_matches_area_resize(spark):
    from transformio_spark.operators import raster

    im = synth_image(256, seed=5)
    want = kwarp.area_resize(im, 128, 128)
    tiles_df = raster.image_to_tiles(spark, im, tile=96)
    out = raster.resize_tiles(spark, tiles_df, (256, 256), (128, 128), out_tile=50)
    got = raster.tiles_to_image(out.collect(), 128, 128)
    assert_array_equal(got, want)


def test_warp_tiles_full_options_matches_kernel(spark):
    """warp_tiles(maxdim + fromcrs/tocrs) must equal the single-array
    kernel bit for bit (dyadic ratio → exact resize parity)."""
    from transformio_spark.operators import raster

    im = synth_image(256, seed=7)
    img2geo = kwarp.fitbounds(256, 256, [-180, 85, 180, -85])
    full, aff_full = kwarp.warp(
        im, img2geo, maxdim=128, fromcrs="EPSG:4326", tocrs="EPSG:3857"
    )
    tiles_df = raster.image_to_tiles(spark, im, tile=96)
    out_tiles, aff_tiled, (w, h) = raster.warp_tiles(
        spark, tiles_df, (256, 256), img2geo,
        maxdim=128, fromcrs="EPSG:4326", tocrs="EPSG:3857", out_tile=64,
    )
    assert aff_tiled == aff_full
    assert (w, h) == (full.shape[1], full.shape[0])
    assembled = raster.tiles_to_image(out_tiles.collect(), w, h)
    assert_array_equal(assembled, full)


@needs_file(f"{REF_DATA_DIR}/land_shallow_topo_2048.wld")
def test_worldfile_read_reference_golden():
    """Reading the vendored .wld reproduces the README world affine
    (README.md:611-620)."""
    from transformio_spark.sources.worldfile import read_worldfile

    trans = read_worldfile(
        "/root/reference/tests/data/land_shallow_topo_2048.wld"
    )
    from transformio_spark.fixtures import WORLD_AFFINE

    assert_array_almost_equal(trans.A, np.array(WORLD_AFFINE), decimal=12)


def test_worldfile_roundtrip_through_warp(tmp_path):
    from transformio_spark.sources.worldfile import (
        read_worldfile,
        write_worldfile,
    )

    im = synth_image(64)
    trans = k.Affine(A=[[0.5, 0, 100.0], [0, 0.5, -30.0], [0, 0, 1]])
    _, affine = kwarp.warp(im, trans)
    p = tmp_path / "out.wld"
    write_worldfile(str(p), affine)
    back = read_worldfile(str(p))
    assert_array_almost_equal(
        back.A,
        np.array([[affine[0], affine[1], affine[2]],
                  [affine[3], affine[4], affine[5]], [0, 0, 1]]),
        decimal=12,
    )


def test_tiled_warp_crop_matches_full_bounds_kernel(spark):
    """crop=True replicates the kernel's bounds branch (shift before
    round + cropped-dims mask) — bit parity on a bounds-cropped warp
    whose backpred min is fractional-positive (the case that diverges
    without crop)."""
    from transformio_spark.operators import raster

    im = synth_image(256, seed=9)
    trans = k.Affine(A=[[0.7, 0, -30.3], [0, 0.7, 12.7], [0, 0, 1]])
    full, affine = kwarp.warp(im, trans, bounds=[40, 40, 120, 120], size=(96, 96))
    tiles_df = raster.image_to_tiles(spark, im, tile=96)
    out_tiles, a6 = raster.warp_tiled(
        spark, tiles_df, (256, 256), json.dumps(trans.to_json()),
        affine, (96, 96), out_tile=64, src_tile=96, crop=True,
    )
    assembled = raster.tiles_to_image(out_tiles.collect(), 96, 96)
    assert a6 == pytest.approx(affine)
    assert_array_equal(assembled, full)


def test_zonal_stats_matches_numpy_ground_truth(spark):
    """zonal_stats from real tile bytes == direct numpy aggregation
    of the same image under the same pixel-center assignment; regions
    tile the domain, so pixel counts conserve exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from transformio_spark.operators import raster
    from transformio_spark.plans.queries import (
        WARP_GATE_SRC, WARP_GATE_SRC_TILE, ZONAL_SX, ZONAL_SY,
        warp_gate_image,
    )
    from transformio_spark.sources import synth

    im = warp_gate_image()
    tiles = raster.image_to_tiles(spark, im, tile=WARP_GATE_SRC_TILE)
    boxes = synth.region_boxes(spark, "/root/testdata/sf0.001")
    got = {
        r["region_id"]: (r["n_pixels"], r["sum_r"], r["sum_g"], r["sum_b"])
        for r in raster.zonal_stats(
            tiles, boxes, ZONAL_SX, ZONAL_SY, -180.0, 85.0
        ).collect()
    }
    size = WARP_GATE_SRC
    y, x = np.mgrid[0:size, 0:size]
    lon = -180.0 + (x + 0.5) * ZONAL_SX
    lat = 85.0 + (y + 0.5) * ZONAL_SY
    bx = boxes.collect()
    want = {}
    for b in bx:
        m = (
            (lon >= b["lon_min"]) & (lon < b["lon_max"])
            & (lat >= b["lat_min"]) & (lat < b["lat_max"])
        )
        if m.any():
            want[b["region_id"]] = (
                int(m.sum()),
                int(im[..., 0][m].astype(np.int64).sum()),
                int(im[..., 1][m].astype(np.int64).sum()),
                int(im[..., 2][m].astype(np.int64).sum()),
            )
    assert got == want
    assert sum(v[0] for v in got.values()) == size * size  # conservation
    # plan: broadcast join, no Python, no cartesian product
    plan = (
        raster.zonal_stats(tiles, boxes, ZONAL_SX, ZONAL_SY, -180.0, 85.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_zonal_stats_rejects_non_north_up():
    import pytest as _pytest

    from transformio_spark.operators import raster

    with _pytest.raises(ValueError, match="north-up"):
        raster.zonal_stats(None, None, 1.0, 1.0, 0.0, 0.0)
