"""Deep golden parity: per-point residual values parsed directly out
of the reference README's executable doctest output (README.md:245-266
forward-geodesic and the backward-euclidean block) — 22 + 22 exact
decimal strings checked against our kernels, plus the
burkina10/volcano5 fixture behaviors."""

from __future__ import annotations

import re

import pytest

from ref_loader import needs_file
from transformio_spark import kernels as k
from transformio_spark.fixtures import (
    BURKINA10_GEOPOINTS,
    BURKINA10_IMPOINTS,
    CHINA22_GEOPOINTS,
    CHINA22_IMPOINTS,
    VOLCANO5_GEOPOINTS,
    VOLCANO5_IMPOINTS,
)

README = "/root/reference/README.md"

_LINE = re.compile(
    r"Observed \(([-\d.]+), ([-\d.]+)\); Predicted \(([-\d.]+), ([-\d.]+)\); "
    r"Residual ([-\d.]+) (km|pixels)'"
)


def _readme_residual_blocks():
    with open(README) as f:
        text = f.read()
    km, px = [], []
    for m in _LINE.finditer(text):
        rec = tuple(float(g) for g in m.groups()[:5])
        (km if m.group(6) == "km" else px).append(rec)
    return km, px


@needs_file(README)
def test_forward_geodesic_per_point_residuals_match_readme():
    km, _ = _readme_residual_blocks()
    assert len(km) == 22
    predicted, resids = k.accuracy.residuals(
        k.Affine(), CHINA22_IMPOINTS, CHINA22_GEOPOINTS, distance="geodesic"
    )
    for (obs_x, obs_y, pred_x, pred_y, resid), (px, py), r, (gx, gy) in zip(
        km, predicted, resids, CHINA22_GEOPOINTS
    ):
        assert (obs_x, obs_y) == (gx, gy)
        assert px == pytest.approx(pred_x, abs=1e-10)
        assert py == pytest.approx(pred_y, abs=1e-10)
        assert r == pytest.approx(resid, abs=1e-9)


@needs_file(README)
def test_backward_euclidean_per_point_residuals_match_readme():
    _, px_block = _readme_residual_blocks()
    assert len(px_block) == 22
    predicted, resids = k.accuracy.residuals(
        k.Affine(), CHINA22_GEOPOINTS, CHINA22_IMPOINTS, distance="euclidean"
    )
    for (obs_x, obs_y, pred_x, pred_y, resid), (qx, qy), r in zip(
        px_block, predicted, resids
    ):
        assert qx == pytest.approx(pred_x, abs=1e-9)
        assert qy == pytest.approx(pred_y, abs=1e-9)
        assert r == pytest.approx(resid, abs=1e-9)


def test_burkina10_poly2_fit_exact():
    """README.md:661-679: the burkina 10-GCP set fits an order-2
    polynomial (auto-order picks 2 at n=10); in-sample prediction of
    the GCPs themselves is tight."""
    imx, imy = zip(*BURKINA10_IMPOINTS)
    gx, gy = zip(*BURKINA10_GEOPOINTS)
    trans = k.Polynomial()  # auto-order
    trans.fit(imx, imy, gx, gy)
    assert trans.order == 2
    px, py = trans.predict(imx, imy)
    _, resids = k.accuracy.residuals(
        k.Polynomial(order=2), BURKINA10_IMPOINTS, BURKINA10_GEOPOINTS,
        distance="geodesic",
    )
    assert k.accuracy.RMSE(resids) < 10.0  # km — tight in-sample fit


def test_volcano5_auto_order_one():
    """README.md:720-722 golden: 5 GCPs auto-select order 1."""
    vx, vy = zip(*VOLCANO5_IMPOINTS)
    gx, gy = zip(*VOLCANO5_GEOPOINTS)
    trans = k.Polynomial()
    trans.fit(vx, vy, gx, gy)
    assert trans.order == 1
    # and the fit round-trips through JSON + inverse sanely
    inv = trans.inverse()
    bx, by = inv.predict(*trans.predict(vx, vy))
    assert max(abs(a - b) for a, b in zip(bx, vx)) < 1e-6
