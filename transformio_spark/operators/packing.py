"""Sequence packing — concatenate-and-chunk token-budget packing for
LLM training-data pipelines (round 5).

Every document is laid out on one global token axis in a
deterministic order; training sequence ``seq_bin`` = which
``capacity``-token chunk the document STARTS in, ``seq_offset`` = its
offset inside that chunk.  This is the standard concatenate-then-chunk
packing used to build fixed-length training batches from a variable-
length corpus (documents may straddle chunk boundaries; the consumer
slices them).

Scale design — the global running sum is a two-level distributed
prefix sum, NOT a single-partition window:

1. a monotone coarse ``range_id`` is derived from the order column's
   value range (one 2-scalar min/max aggregate);
2. per-range token totals (``n_ranges`` rows, broadcast-sized by
   construction) are collected and turned into per-range starting
   offsets driver-side;
3. the intra-range running sum is a window partitioned BY RANGE —
   ``n_ranges`` independent partitions, each bounded at corpus_size /
   n_ranges, so no executor ever materializes the whole corpus order.

At 10^12 documents, step 2 stays a tiny aggregate (``n_ranges``
scalars) and step 3 shuffles once on ``range_id`` with per-partition
state bounded by the range width — the same pattern a sorted Iceberg
table would drive from file-level min/max ranges.  The DuckDB oracle
replays the SAME arithmetic as one global window — verifying that the
two-level decomposition equals the sequential prefix sum exactly
(integer arithmetic, hash-green).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..sources.synth import literal_table


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_ranges: int = 64,
) -> DataFrame:
    """Adds ``token_start`` (global token offset), ``seq_bin`` and
    ``seq_offset`` to ``docs``.  ``order_col`` must be unique (it IS
    the packing order); ``tokens_col`` must be a non-negative integer
    column.  Deterministic: same input -> same packing, any
    parallelism."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    oc, tc = F.col(order_col), F.col(tokens_col)

    # 1. monotone coarse ranges over the order column's value span
    # (2-scalar collect, broadcast-sized by construction)
    lo, hi = docs.agg(F.min(oc), F.max(oc)).first()
    if lo is None:
        return docs.withColumns({
            "token_start": F.lit(0).cast("long"),
            "seq_bin": F.lit(0).cast("long"),
            "seq_offset": F.lit(0).cast("long"),
        }).limit(0)
    width = max(1, (int(hi) - int(lo) + n_ranges) // n_ranges)
    with_range = docs.withColumn(
        "_range_id", ((oc - F.lit(int(lo))) / F.lit(width)).cast("long")
    )

    # 2. per-range totals -> starting offsets (n_ranges rows)
    totals = (
        with_range.groupBy("_range_id")
        .agg(F.sum(tc).cast("long").alias("_range_tokens"))
        .collect()
    )
    running = 0
    offsets = []
    for row in sorted(totals, key=lambda r: r["_range_id"]):
        offsets.append((row["_range_id"], running))
        running += row["_range_tokens"]
    spark = docs.sparkSession
    off_df = F.broadcast(
        literal_table(spark, offsets, "_range_id long, _range_start long")
    )

    # 3. intra-range running sum — window partitioned BY RANGE, so the
    # sort/state is bounded per range, never global
    w = (
        Window.partitionBy("_range_id")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.col("_range_start")
        + F.coalesce(F.sum(tc).over(w), F.lit(0)).cast("long")
    )
    return (
        with_range.join(off_df, "_range_id")
        .withColumn("token_start", start)
        .withColumns({
            "seq_bin": F.floor(F.col("token_start") / capacity).cast("long"),
            "seq_offset": (F.col("token_start") % capacity).cast("long"),
        })
        .drop("_range_id", "_range_start")
    )
