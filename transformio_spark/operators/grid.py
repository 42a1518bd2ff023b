"""Sparse-grid focal (neighborhood) operators.

A focal statistic — each cell aggregated with its (2r+1)^2 neighbors —
is the raster convolution / hotspot-smoothing primitive, re-expressed
for the SPARSE cell world every spatial aggregate here lives in
(points → tile counts → smooth).  The dense-raster formulation (shift
the array 9 times) doesn't distribute; the sparse one is two narrow
relational steps:

  spread:   each (cell, value) row explodes to the (2r+1)^2 target
            cells it contributes to — pure Column sequence arithmetic,
            rows grow by the kernel size only, never by grid area;
  gather:   groupBy target cell, sum contributions — ONE shuffle;
  support:  inner-join back to the input cells (classic focal stats
            are defined on the input support, not its dilation) — an
            equi-join on the SAME key the gather just shuffled on, so
            AQE/Catalyst co-partitions it without a second wide
            exchange of the big side.

At 10^12 points the input to focal_sum is the already-aggregated cell
table (|cells| << |points|); kernel radius r multiplies rows by
(2r+1)^2 transiently before the gather's map-side partial aggregation
collapses them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import materialize
from .dedup import connected_components

def focal_sum(
    cells: DataFrame,
    tx: str = "tx",
    ty: str = "ty",
    value: str = "n",
    radius: int = 1,
) -> DataFrame:
    """3x3 (or (2r+1)^2) neighborhood sum over a sparse cell table.

    Returns one row per INPUT cell: its own value plus the summed
    values of every input neighbor within Chebyshev distance
    ``radius``.  Cells absent from the input contribute 0 and receive
    no row (sparse semantics; dilate the support first if the halo is
    wanted)."""
    if radius < 1:
        raise ValueError("focal_sum: radius must be >= 1")
    # round 6 (guide §2.4: remove shuffles outright): the support
    # restriction used to be an inner join back to the input cells —
    # which re-evaluated the whole upstream points->counts pipeline a
    # second time AND added a join.  The (dx, dy) = (0, 0) spread row
    # IS the support marker: carry it as a flag, aggregate it in the
    # same gather, and keep only targets that received an own
    # contribution.  One shuffle, zero joins, single evaluation of
    # the input.  (Cells are unique per (tx, ty) by construction —
    # the input is an aggregated cell table — so max() recovers the
    # cell's own value exactly.)
    off = F.sequence(F.lit(-radius), F.lit(radius))
    spread = (
        cells.select(tx, ty, value)
        .withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .select(
            (F.col(tx) + F.col("_dx")).alias("_tx"),
            (F.col(ty) + F.col("_dy")).alias("_ty"),
            F.col(value).alias("_v"),
            ((F.col("_dx") == 0) & (F.col("_dy") == 0)).alias("_own"),
        )
    )
    gathered = spread.groupBy("_tx", "_ty").agg(
        F.sum("_v").alias("focal_sum"),
        F.max(F.when(F.col("_own"), F.col("_v"))).alias("_own_v"),
    )
    return gathered.where(F.col("_own_v").isNotNull()).select(
        F.col("_tx").alias(tx),
        F.col("_ty").alias(ty),
        F.col("_own_v").alias(value),
        "focal_sum",
    )


def grid_dbscan(
    cells: DataFrame,
    min_pts: int,
    width: int,
    tx: str = "tx",
    ty: str = "ty",
    value: str = "n",
) -> DataFrame:
    """Grid-based DBSCAN (round 5): density clusters over a sparse
    cell table — core cells are cells whose point count reaches
    ``min_pts``; clusters are the 8-connected components of the core
    cells (the grid formulation of density clustering: cell = the
    eps-neighborhood bucket, so the quadratic point-pair search of
    classic DBSCAN becomes a NEIGHBOR EQUI-JOIN over 4 forward
    offsets — each adjacent pair emitted exactly once — and the
    transitive closure is operators/dedup.connected_components with
    32x32 cell blocks as its union-find lanes).

    Scale shape: |cells| << |points| (the input is the aggregated
    tile table), edge generation is spread(×4) → one equi-join on
    (tx, ty), and the closure is one union-find task while the
    adjacency set fits it (zoom 8 always does), else per-block
    union-find plus star rounds over the block-boundary edges — no
    all-pairs stage anywhere.  Border/noise points of classic
    DBSCAN map to non-core cells and are excluded by construction.

    Returns one row per cluster: ``cluster_id`` (minimum row-major
    cell id ``ty*width + tx`` in the cluster), ``n_cells``,
    ``n_points`` (summed ``value``), and the cluster bbox
    ``tx_min/tx_max/ty_min/ty_max``."""
    if min_pts < 1:
        raise ValueError("grid_dbscan: min_pts must be >= 1")
    # materialize the core-cell table once (round 6): it feeds the
    # spread, the neighbor join's build side, AND the final label
    # join — three full re-evaluations of the upstream points
    # pipeline otherwise.  |core| << |points| by construction.
    # repartition BEFORE the checkpoint: AQE rightly coalesces the
    # small aggregate's shuffle, but the checkpoint would freeze that
    # layout and serialize the spread/neighbor-join stages (the
    # frozen-1-partition failure mode found on the curation funnel).
    # The explicit exchange is of the ALREADY-AGGREGATED cell table
    # (|core| << |points|), so it is cheap at any scale, and folding
    # it into the materialization job avoids a second checkpoint.
    spark = cells.sparkSession
    par = spark.sparkContext.defaultParallelism
    core, _ = materialize(
        cells.where(F.col(value) >= min_pts)
        .select(
            F.col(tx).alias("tx"),
            F.col(ty).alias("ty"),
            F.col(value).alias("n"),
            (F.col(ty) * width + F.col(tx)).cast("long").alias("cell_id"),
        )
        .repartition(2 * par, "cell_id")
    )
    # 4 forward offsets cover each unordered 8-neighbor pair once:
    # E, SE, S, SW (the backward four are the same pairs reversed).
    fwd = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (1, 1), (0, 1), (-1, 1))
        ]
    )
    spread = (
        core.select("cell_id", "tx", "ty")
        .withColumn("_o", F.explode(fwd))
        .select(
            F.col("cell_id").alias("id_a"),
            (F.col("tx") + F.col("_o.dx")).alias("tx"),
            (F.col("ty") + F.col("_o.dy")).alias("ty"),
        )
    )
    pairs = spread.join(
        core.select(F.col("cell_id").alias("id_b"), "tx", "ty"),
        on=["tx", "ty"],
        how="inner",
    ).select("id_a", "id_b")
    w = int(width)

    def block(c: str) -> F.Column:
        # union-find lane = the cell's 32x32 block: grid components are
        # routinely HIGH-diameter snakes, and a snake's in-block stretch
        # then contracts in its lane instead of in the global star
        # rounds.  Integer `div` keeps the key exact beyond 2^53.
        return F.expr(
            f"(({c} div {w}) div 32) * {w} + (({c} % {w}) div 32)"
        ).cast("long")

    labels = connected_components(pairs, lane=block)
    labeled = core.join(
        labels.withColumnRenamed("id", "cell_id"), on="cell_id", how="left"
    ).withColumn("comp", F.coalesce(F.col("comp"), F.col("cell_id")))
    return labeled.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_points"),
        F.min("tx").alias("tx_min"),
        F.max("tx").alias("tx_max"),
        F.min("ty").alias("ty_min"),
        F.max("ty").alias("ty_max"),
    )
