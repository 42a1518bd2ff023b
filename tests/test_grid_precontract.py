"""grid_dbscan component pins: clusters must equal a pure-Python
union-find reference (cluster id = component's minimum cell id) on
adversarial grid shapes — a grid-spanning snake (high diameter), random
sparse grids, block-boundary components, and singletons — both on the
single union-find task and on the multi-lane path, where
connected_components contracts each 32x32 cell block in its lane and
runs star rounds over the block-boundary edges (forced by lowering
dedup._UF_MAX_EDGES)."""

from __future__ import annotations

import random

import pytest

from transformio_spark.operators import dedup
from transformio_spark.operators.grid import grid_dbscan

_FWD = ((1, 0), (1, 1), (0, 1), (-1, 1))


def _ref_clusters(rows, min_pts, width):
    """Reference grid DBSCAN over (tx, ty, n) rows: union-find over the
    8-neighbor adjacency of the core cells, one sorted tuple
    (cluster_id, n_cells, n_points, tx_min, tx_max, ty_min, ty_max)
    per cluster."""
    core = {(tx, ty): n for tx, ty, n in rows if n >= min_pts}
    parent = {c: c for c in core}

    def cid(c):
        return c[1] * width + c[0]

    def find(c):
        while parent[c] != c:
            c = parent[c]
        return c

    for tx, ty in core:
        for dx, dy in _FWD:
            nb = (tx + dx, ty + dy)
            if nb in core:
                ra, rb = find((tx, ty)), find(nb)
                if ra != rb:
                    lo, hi = sorted((ra, rb), key=cid)
                    parent[hi] = lo
    groups = {}
    for c in core:
        groups.setdefault(find(c), []).append(c)
    return sorted(
        (
            cid(root),
            len(cs),
            sum(core[c] for c in cs),
            min(c[0] for c in cs),
            max(c[0] for c in cs),
            min(c[1] for c in cs),
            max(c[1] for c in cs),
        )
        for root, cs in groups.items()
    )


def _n_edges(rows):
    cs = {(tx, ty) for tx, ty, _ in rows}
    return sum((tx + dx, ty + dy) in cs for tx, ty in cs for dx, dy in _FWD)


def _dbscan(spark, rows, monkeypatch, cap=None, min_pts=3, width=256):
    cells = spark.createDataFrame(rows, "tx long, ty long, n long")
    with monkeypatch.context() as m:
        if cap is not None:
            m.setattr(dedup, "_UF_MAX_EDGES", cap)
        return sorted(
            tuple(r)
            for r in grid_dbscan(cells, min_pts=min_pts, width=width).collect()
        )


@pytest.mark.parametrize("case", ["snake", "random", "boundary"])
def test_precontract_equals_star(spark, monkeypatch, case):
    """Block-lane contraction + star over the boundary edges labels
    like the reference (4 lanes: cap = a quarter of the edges)."""
    if case == "snake":
        # boustrophedon path spanning many 32-cell blocks: diameter
        # ~ n_cells, the shape the block contraction targets
        cells = []
        for ty in range(0, 40, 2):
            xs = range(0, 200) if (ty // 2) % 2 == 0 else range(199, -1, -1)
            cells += [(tx, ty) for tx in xs]
            cells.append((cells[-1][0], ty + 1))
    elif case == "random":
        rng = random.Random(7)
        cells = {(rng.randrange(64), rng.randrange(64)) for _ in range(900)}
    else:
        # two components hugging a 32-cell block boundary, plus an
        # isolated pair entirely inside one block
        cells = [(31, y) for y in range(10)] + [(32, y) for y in range(10)]
        cells += [(100, 100), (101, 100)]
    rows = [(tx, ty, 3) for tx, ty in set(cells)]
    ref = _ref_clusters(rows, 3, 256)
    got = _dbscan(spark, rows, monkeypatch, cap=-(-_n_edges(rows) // 4))
    assert got == ref
    assert len(got) > 0


def test_grid_dbscan_direct_equals_block_path(spark, monkeypatch):
    """The single union-find task and the block-lane path (forced via
    a 7-edge cap) produce the reference clusters on a random grid with
    mixed core and non-core cells."""
    rng = random.Random(11)
    rows = [(tx, ty, rng.choice((2, 3, 4))) for tx, ty in
            {(rng.randrange(40), rng.randrange(40)) for _ in range(300)}]
    direct = _dbscan(spark, rows, monkeypatch)
    block = _dbscan(spark, rows, monkeypatch, cap=7)
    assert direct == block == _ref_clusters(rows, 3, 256)
    assert len(direct) > 1


def test_grid_dbscan_output_unchanged(spark):
    """grid_dbscan end-to-end on a crafted cell table: same clusters
    as the label set implies (cluster ids are component minima)."""
    rows = [(tx, 0, 3) for tx in range(70)]          # 70-cell snake
    rows += [(5, 50, 4), (6, 50, 5), (200, 200, 3)]  # small + singleton
    rows += [(90, 90, 1)]                            # below min_pts
    cells = spark.createDataFrame(rows, "tx long, ty long, n long")
    out = grid_dbscan(cells, min_pts=3, width=256)
    got = {r.cluster_id: (r.n_cells, r.n_points) for r in out.collect()}
    assert got == {
        0: (70, 3 * 70),           # snake: min cell id = 0*256+0
        50 * 256 + 5: (2, 9),      # the (5,50)-(6,50) pair
        200 * 256 + 200: (1, 3),   # singleton core cell
    }
