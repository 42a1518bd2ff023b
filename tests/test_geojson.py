"""GeoJSON connector: round-trip + distributed transform of the
reference's own vector fixture (argentina_pol96_digitized.geojson)
through the shipped serialized transform, vs the dict-level kernel."""

from __future__ import annotations

import json

import numpy as np
import pytest
from numpy.testing import assert_array_almost_equal

from ref_loader import needs_file
from transformio_spark import kernels as k
from transformio_spark.operators import vector_geom
from transformio_spark.sources import geojson as gj

FIXTURE = "/root/reference/tests/data/argentina_pol96_digitized.geojson"
TRANSFORM = "/root/reference/tests/data/argentina_pol96_georeferenced_transform.json"
pytestmark = needs_file(FIXTURE, TRANSFORM)


@pytest.fixture(scope="module")
def argentina():
    with open(FIXTURE) as f:
        fc = json.load(f)
    with open(TRANSFORM) as f:
        tj = json.load(f)
    sub = tj.get("forward", tj) if isinstance(tj, dict) else tj
    return fc, sub


def test_read_geojson_long_table(spark, argentina):
    fc, _ = argentina
    pts, props = gj.read_geojson(spark, FIXTURE)
    n_expected = sum(
        len(list(k.vector.iter_points(f["geometry"]))) for f in fc["features"]
    )
    assert pts.count() == n_expected
    assert props.count() == len(fc["features"])
    got_types = {r.geom_type for r in pts.select("geom_type").distinct().collect()}
    exp_types = {f["geometry"]["type"] for f in fc["features"]}
    assert got_types == exp_types


def test_distributed_transform_matches_dict_kernel(spark, argentina):
    fc, trans_json = argentina
    pts, _ = gj.read_geojson(spark, FIXTURE)
    out = vector_geom.transform_long(pts, json.dumps(trans_json))
    got = {
        (r.geom_id, r.part_id, r.ring_id, r.pt_seq): (r.x, r.y)
        for r in out.collect()
    }

    model = k.from_json(trans_json)
    for fi, feat in enumerate(fc["features"]):
        expected = k.vector.transform(feat["geometry"], model)
        gid = f"0#{fi}"
        ring_pts = [v for kk, v in sorted(got.items()) if kk[0] == gid]
        exp_pts = list(k.vector.iter_points(expected))
        assert len(ring_pts) == len(exp_pts)
        assert_array_almost_equal(
            np.array(ring_pts), np.array(exp_pts), decimal=9
        )


def test_roundtrip_to_feature_json(spark, argentina):
    fc, _ = argentina
    pts, _ = gj.read_geojson(spark, FIXTURE)
    nested = vector_geom.renest(pts)
    type_map = {
        r.geom_id: r.geom_type
        for r in pts.select("geom_id", "geom_type").distinct().collect()
    }
    out = gj.to_feature_json(nested, type_map).collect()
    assert len(out) == len(fc["features"])
    rebuilt = json.loads(sorted(out, key=lambda r: r.geom_id)[0].feature_json)
    assert rebuilt["type"] == "Feature"
    orig = fc["features"][0]["geometry"]
    assert rebuilt["geometry"]["type"] == orig["type"]
    got_pts = list(k.vector.iter_points(rebuilt["geometry"]))
    exp_pts = list(k.vector.iter_points(orig))
    assert_array_almost_equal(np.array(got_pts), np.array(exp_pts), decimal=9)
