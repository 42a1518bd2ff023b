"""Temporal joins for event/feature pipelines.

The as-of (backward) join — "for each left row, the latest right row
at or before it on the same key" — is the feature-attribution
workhorse (latest profile snapshot per event, last login before each
click) that Spark's DataFrame API lacks as a primitive.  Rather than
a range join (quadratic per key) or a per-key loop, it runs as the
standard scale pattern: tag both sides, UNION, one window pass with a
running ``last(..., ignorenulls=True)`` over (ts, side) ordering —
a SINGLE shuffle on the join key, linear work within each partition's
sorted run, no state beyond the window frame.  At 10^12 rows the
shuffle on key is the same one any keyed join pays.  Hot-key caveat
(shared by ``sessionize``): a key owning a large share of all events
lands its whole sorted run on one task.  No workload here has such a
key; splitting runs into time buckets would first need a skewed-key
benchmark to measure it against.

Match presence is tracked with a carry STRUCT, not the raw values: a
matched right row whose carried value is NULL must still win over an
older non-NULL row (DuckDB ``ASOF LEFT JOIN`` returns the matched
row's NULL).  ``last(ignorenulls=True)`` of the struct skips only
left-row placeholders — the struct on a right row is non-null even
when every field inside it is NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    carry: dict[str, str],
) -> DataFrame:
    """Backward as-of join: every ``left`` row gains the ``carry``
    columns of the latest ``right`` row with ``right.ts <= left.ts``
    and the same key (NULL when no such row).  Ties at identical ts
    resolve right-row-visible (<= semantics, matching DuckDB's
    ``ASOF LEFT JOIN ... ON l.ts >= r.ts``).

    ``carry`` maps output column name -> right column name.  Left
    columns pass through unchanged.  A matched right row whose carry
    value is NULL yields NULL (presence is tracked by the carry
    struct, independent of field nullability)."""
    # left rows: side=1, NULL carry struct; right rows: side=0,
    # non-null carry struct of the ``carry`` source columns
    struct_t = T.StructType(
        [T.StructField(out, right.schema[src].dataType) for out, src in carry.items()]
    )
    left_cols = list(left.columns)
    tagged_left = left.select(
        *left_cols,
        F.lit(1).alias("_side"),
        F.lit(None).cast(struct_t).alias("_carry"),
    )
    tagged_right = right.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_cols if c not in (key_col, ts_col)],
        F.lit(0).alias("_side"),
        F.struct(
            *[F.col(src).alias(out) for out, src in carry.items()]
        ).cast(struct_t).alias("_carry"),
    ).select(*left_cols, "_side", "_carry")
    u = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(F.col("_carry"), ignorenulls=True).over(w)
    return (
        u.select(*left_cols, "_side", *[matched[out].alias(out) for out in carry])
        .where(F.col("_side") == 1)
        .drop("_side")
    )


def sessionize(
    events: DataFrame,
    gap_seconds: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization (round 5): consecutive events of the
    same key belong to one session while the inter-event gap stays
    <= ``gap_seconds``; a larger gap starts a new session.  Adds
    ``session_idx`` (0-based per key, in time order) — the classic
    clickstream/telemetry primitive.

    Scale shape: ONE shuffle on ``key_col``, then two window passes
    over each key's sorted run (lag -> boundary flag, running sum ->
    session index) — linear per partition, no state beyond the frame,
    the same single-shuffle profile as ``asof_join_backward`` (and the
    same hot-key caveat, see the module docstring).  The
    boundary rule is pure Column arithmetic, so the identical
    semantics replay as two SQL window functions in the DuckDB oracle,
    and the streaming twin (applyInPandasWithState with a
    last-event-ts state value) shares the same gap predicate.

    ``tiebreak_col`` must make (key, ts, tiebreak) unique — ordering
    (and therefore session numbering) is deterministic."""
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be positive, got {gap_seconds}")
    gap_us = int(round(float(gap_seconds) * 1_000_000))
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    # integer-microsecond gap (unix_micros) so the boundary decision
    # is exact and engine-portable (a double seconds difference could
    # round differently across engines at the threshold); first event
    # of a key has no predecessor -> new session
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap > F.lit(gap_us)), 1
    ).otherwise(0)
    return events.withColumn(
        "session_idx",
        (F.sum(new_session).over(
            Window.partitionBy(key_col)
            .orderBy(ts_col, tiebreak_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ) - F.lit(1)).cast("long"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_us: int,
    left_start: str = "l_start_us",
    left_end: str = "l_end_us",
    right_start: str = "r_start_us",
    right_end: str = "r_end_us",
) -> DataFrame:
    """Interval × interval overlap join (half-open [start, end) on
    integer microseconds): all pairs with
    ``l_start < r_end AND r_start < l_end``.

    Spark has no overlap-join primitive; the naive form is a
    cross-join with an inequality filter (quadratic).  Scale plan —
    the 1-D version of the spatial tile-cover join: each interval
    explodes into the time buckets it covers, the two sides equi-join
    on bucket, and a pair that shares several buckets is emitted
    EXACTLY ONCE with zero dedup shuffle: only the bucket containing
    ``greatest(l_start, r_start)`` (the first bucket the pair can
    co-occur in) reports it — the standard grid-join
    report-at-first-common-cell trick.  Work scales as
    interval_span / bucket_us per row; pick ``bucket_us`` near the
    typical interval length.

    Both inputs must carry non-empty intervals (end > start): empty
    intervals can never overlap anything under half-open semantics and
    are rejected loudly rather than silently dropped — as a row-level
    ``raise_error`` fused into the bucket-cover expression (no extra
    validation scan; at 10^12 rows a driver-side pre-count would read
    the whole table twice).
    """

    def cover(df, s, e, side):
        lo = F.when(
            F.col(e) <= F.col(s),
            F.raise_error(F.concat(
                F.lit(
                    f"interval_overlap_join: {side} side has an empty "
                    f"interval ({e} <= {s}) at {s}="
                ),
                F.col(s).cast("string"),
            )),
        ).otherwise(F.floor(F.col(s) / bucket_us))
        return df.withColumn(
            "_bucket",
            F.explode(
                F.sequence(lo, F.floor((F.col(e) - 1) / bucket_us))
            ),
        )

    lc = cover(left, left_start, left_end, "left")
    rc = cover(right, right_start, right_end, "right")
    pair_bucket = F.floor(
        F.greatest(F.col(left_start), F.col(right_start)) / bucket_us
    )
    return (
        lc.join(rc, on="_bucket", how="inner")
        .where(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
            & (F.col("_bucket") == pair_bucket)
        )
        .drop("_bucket")
    )
