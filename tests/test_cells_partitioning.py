"""Hierarchical cell ids (Morton) and the storage-layout levers that
matter at 100 TB: parent/child consistency, spatial locality of the
Z-order key, and partition pruning on a tile-bucketed write."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transformio_spark.functions import tiles
from transformio_spark.operators import extract
from transformio_spark.sources import synth


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    affine_a = extract.fit_px2geo_affine(synth.gcps(spark))
    return extract.extract_coordinates(
        synth.docs_spans(spark, sf_dir), affine_a
    ).cache()


def test_cell_parent_consistency(spark, pts):
    """cell_parent(cell_id(z), z, z-2) must equal cell_id(z-2) for
    every point — the H3/S2-style resolution ladder is pure bit math."""
    df = pts.selectExpr(
        f"{tiles.cell_id_sql('lon', 'lat', 10)} AS c10",
        f"{tiles.cell_id_sql('lon', 'lat', 8)} AS c8",
    ).withColumn("c8_derived", F.expr(tiles.cell_parent_sql("c10", 10, 8)))
    bad = df.where(F.col("c8") != F.col("c8_derived")).count()
    assert bad == 0


def test_morton_locality(spark, pts):
    """Z-order locality: consecutive cell ids must be geographically
    near — the property that makes repartitionByRange(cell_id) a
    spatial partitioner.  Check that the mean lon/lat span inside
    each of 64 contiguous cell-id range buckets is far below the
    global span."""
    df = pts.selectExpr(
        "lon", "lat", f"{tiles.cell_id_sql('lon', 'lat', 8)} AS cell"
    )
    bucketed = df.withColumn("bucket", F.ntile(64).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("cell")
    ))
    spans = bucketed.groupBy("bucket").agg(
        (F.max("lon") - F.min("lon")).alias("lon_span"),
        (F.max("lat") - F.min("lat")).alias("lat_span"),
    ).agg(F.avg("lon_span").alias("alon"), F.avg("lat_span").alias("alat")).collect()[0]
    assert spans.alon < 120.0  # global span is 360
    assert spans.alat < 60.0   # global span is 170


def test_partition_pruning_on_tile_bucket(spark, pts, tmp_path):
    """Write points partitioned by coarse cell; a cell-filtered read
    must show PartitionFilters in the scan (pruned, not post-filtered)
    and return exactly the matching rows."""
    out = str(tmp_path / "pts_by_cell")
    with_cell = pts.withColumn(
        "cell4", F.expr(tiles.tile_id_sql("lon", "lat", 4))
    )
    with_cell.write.mode("overwrite").partitionBy("cell4").parquet(out)
    back = spark.read.parquet(out)
    target = with_cell.groupBy("cell4").count().orderBy(F.desc("count")).first()
    filtered = back.where(F.col("cell4") == target.cell4)
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(cell4" in plan or "PartitionFilters" in plan
    # the pruning filter must actually be ON cell4
    pf_line = [l for l in plan.split("\n") if "PartitionFilters" in l][0]
    assert "cell4" in pf_line
    assert filtered.count() == target["count"]


def test_cell_id_sql_twin_matches_column(spark, pts):
    """The shared SQL texts (cell_id_sql / cell_parent_sql), run in
    Spark, equal a bit-by-bit Morton interleave of the point's tile
    (x, y) in Python, AND evaluate identically in DuckDB."""
    import duckdb
    import numpy as np

    tx, ty = tiles.tile_xy_sql("lon", "lat", 12)
    pdf = pts.selectExpr(
        "lon", "lat", f"{tx} AS tx", f"{ty} AS ty",
        f"{tiles.cell_id_sql('lon', 'lat', 12)} AS col12",
    ).withColumn(
        "colp", F.expr(tiles.cell_parent_sql("col12", 12, 8))
    ).toPandas()
    x, y = pdf.tx.to_numpy(np.int64), pdf.ty.to_numpy(np.int64)
    morton = np.zeros(len(pdf), np.int64)
    for i in range(12):
        morton |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    assert (pdf.col12.to_numpy() == (12 << 58) + morton).all()
    assert (pdf.colp.to_numpy() == (8 << 58) + (morton >> 8)).all()
    pdf = pdf[["lon", "lat", "col12", "colp"]]
    con = duckdb.connect()
    con.register("p", pdf)
    n = con.sql(
        f"SELECT count(*) FROM p WHERE "
        f"{tiles.cell_id_sql('lon', 'lat', 12)} != col12 OR "
        f"{tiles.cell_parent_sql('col12', 12, 8)} != colp"
    ).fetchone()[0]
    assert n == 0


def test_focal_sum_known_grid(spark):
    """Hand-checked 3x3 focal sums on a tiny sparse grid, including a
    lone cell (neighborhood = itself) and edge cells with partial
    neighborhoods; radius validation raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: F401

    from transformio_spark.operators.grid import focal_sum

    cells = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 10), (2, 0, 100), (1, 1, 1000), (9, 9, 7)],
        "tx long, ty long, n long",
    )
    got = {(r["tx"], r["ty"]): (r["n"], r["focal_sum"])
           for r in focal_sum(cells).collect()}
    assert got == {
        (0, 0): (1, 1 + 10 + 1000),
        (1, 0): (10, 1 + 10 + 100 + 1000),
        (2, 0): (100, 10 + 100 + 1000),
        (1, 1): (1000, 1 + 10 + 100 + 1000),
        (9, 9): (7, 7),
    }
    with _pytest.raises(ValueError, match="radius"):
        focal_sum(cells, radius=0)
