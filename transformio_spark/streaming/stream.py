"""Structured Streaming ingestion path.

The north rule is batch-with-resume (lineage anti-join, plans/
pipeline.py), so streaming is a thin complement, not the core: a
file-source stream of docs parquet → the SAME extraction + tiling
Column kernels as batch (operators/extract.py — one code path, two
execution modes) → event-time windowed tile counts with a watermark
for late data.  Tested with trigger=availableNow + memory sink.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tiles
from ..operators import extract
from ..sources.synth import SOURCE_DDL


def streaming_tile_counts(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    affine_A: np.ndarray,
    zoom: int = 6,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """readStream over a docs-parquet directory → media-span extract →
    tile encode → watermarked event-time window counts.

    Docs need an ``event_ts`` timestamp column; late rows beyond the
    watermark are dropped by Spark's state eviction."""
    stream = (
        spark.readStream.schema(docs_schema).parquet(docs_dir)
    )
    # event_ts carried through extraction — no stream-stream join
    pts = extract.extract_coordinates(stream, affine_A, carry=("event_ts",))
    return (
        pts.withColumn(
            "tile_id", tiles.tile_id(F.col("lon"), F.col("lat"), zoom)
        )
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), F.col("tile_id"))
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


EVENTS_SCHEMA = SOURCE_DDL["events"]


def streaming_event_window_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time windowed aggregates through the REAL streaming
    engine, deterministically: ``readStream`` over the events parquet
    → watermark → window(ts)/event_type aggregation → memory sink
    with ``Trigger.AvailableNow`` (drains all available input, then
    stops).  Complete output mode makes the final table equal the
    batch aggregation, so the driver's DuckDB oracle replays it as
    plain SQL — a streaming pipeline with a full rows+schema+hash
    gate.  Window starts surface as epoch seconds (timestamp tz
    handling stays out of the hash)."""
    import hashlib
    import os
    import tempfile
    import uuid

    if os.path.isfile(events_path):
        # FileStreamSource requires a DIRECTORY (its basePath); stage
        # a single-file input as a symlink inside a deterministic
        # temp dir (idempotent per source path)
        key = hashlib.md5(os.path.abspath(events_path).encode()).hexdigest()[:12]
        d = os.path.join(tempfile.gettempdir(), f"stream_src_{key}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(events_path), link)
        events_path = d
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100.0, 0).cast("long").alias("value_e2"),
        )
    )
    name = f"stream_windows_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").cast("long").alias("win_start_s"),
        "event_type",
        "n_events",
        "value_e2",
    )


def streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    docs_schema,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    exact-dedup keyed by md5 fingerprint with per-key state
    (keeper id, cumulative count) that persists across micro-batches
    via the checkpoint — the streaming twin of
    operators/dedup.exact_dedup.

    Each micro-batch emits the key's updated (fp, keeper, group_size);
    keeper = min id seen so far (order-independent, so a replay or a
    different batch split yields the same final state).  At scale the
    state store shards by fp hash across executors — no driver
    state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions import text as T

    stream = spark.readStream.schema(docs_schema).parquet(docs_dir)
    fp_df = stream.select(
        F.col(id_col).cast("string").alias("id"),
        T.fingerprint(F.col(text_col)).alias("fp"),
    )

    def update(key, pdfs, state):
        ids = []
        for pdf in pdfs:
            ids.extend(pdf["id"].tolist())
        keeper, cnt = state.get if state.exists else (None, 0)
        batch_min = min(ids)
        if keeper is None or batch_min < keeper:
            keeper = batch_min
        cnt += len(ids)
        state.update((keeper, cnt))
        yield pd.DataFrame(
            {"fp": [key[0]], "keeper": [keeper], "group_size": [cnt]}
        )

    return fp_df.groupBy("fp").applyInPandasWithState(
        update,
        outputStructType="fp string, keeper string, group_size long",
        stateStructType="keeper string, cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize(
    spark: SparkSession,
    events_dir: str,
    events_schema,
    gap_seconds: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessionization — the streaming twin of
    operators/temporal.sessionize, sharing its integer-microsecond
    boundary rule (round 5).

    Per-key state is just ``(last_ts_us, session_idx)``; each
    micro-batch sorts its rows by (ts, tiebreak), continues the
    numbering from state, and emits (key, tiebreak, session_idx) per
    event.  Requires per-key in-order arrival ACROSS micro-batches
    (the standard caveat for running-state sessionization; late
    events would need a watermark + buffer stage).  Within a batch,
    order is restored by the sort.  At scale the state store shards
    by key hash across executors — two longs per live key, no driver
    state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(round(float(gap_seconds) * 1_000_000))
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    sel = stream.select(
        F.col(key_col).cast("long").alias("k"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )

    def update(key, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "tb"], ignore_index=True)
        last_us, idx = state.get if state.exists else (None, -1)
        out_idx = []
        for ts_us in batch["ts_us"]:
            if last_us is None or ts_us - last_us > gap_us:
                idx += 1
            last_us = int(ts_us)
            out_idx.append(idx)
        state.update((last_us, idx))
        yield pd.DataFrame({
            "user_id": [key[0]] * len(batch),
            "event_id": batch["tb"],
            "session_idx": out_idx,
        })

    return sel.groupBy("k").applyInPandasWithState(
        update,
        outputStructType="user_id long, event_id long, session_idx long",
        stateStructType="last_us long, idx long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
