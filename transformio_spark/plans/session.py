"""SparkSession builder with the engine's standard tuning.

Designed for a multi-executor cluster (the sandbox runs local[N] as a
stand-in): AQE on (runtime re-plan + skew-join splitting), Arrow on
(every Python kernel crossing is a columnar Arrow batch, mirroring the
reference's whole-array numpy execution), and shuffle partitions sized
for the local core count — on a real cluster this would be set to
2-3x total executor cores or left to AQE coalescing.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """The engine's one eager barrier: run ``df`` once into a local
    checkpoint and return it with its row count, observed by the same
    job (no second ``count()`` job).  The checkpoint truncates the
    lineage, so every consumer reads the materialized rows instead of
    re-running the plan below.

    A local checkpoint lives in executor storage: on a multi-executor
    cluster the loss of an executor loses its blocks, and the query has
    to be rebuilt from its sources (a reliable ``checkpoint()`` on a
    durable dir survives that; the lineage log of ``plans/pipeline.py``
    records per-unit progress for resume)."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the transformio_spark package to executor Python workers
    via addPyFile (idempotent per session).

    Needed because pandas-UDF/applyInPandas closures reference package
    modules by name: cloudpickle pickles them by reference, and a
    worker spawned by a driver whose sys.path was extended at runtime
    (rather than via PYTHONPATH or --py-files) cannot resolve the
    import.  addPyFile distributes the zip and prepends it to worker
    sys.path at runtime — the same mechanism spark-submit --py-files
    uses, so this is a no-op safety net under submit.py."""
    if getattr(spark, "_transformio_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(root, "dist", "transformio_spark_auto.zip")
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(pkg_dir)
        for f in fns
        if f.endswith(".py")
    ):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for dp, _dn, fns in os.walk(pkg_dir):
                if "__pycache__" in dp:
                    continue
                for f in fns:
                    if f.endswith(".py"):
                        full = os.path.join(dp, f)
                        z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    spark._transformio_shipped = True


def build_session(
    app_name: str = "transformio-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # small fitted models / dim tables broadcast aggressively
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
