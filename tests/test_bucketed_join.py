"""Bucketed tables → co-located (exchange-free) joins: the storage
lever that removes the shuffle from repeated big-big joins at scale.
Two tables bucketed by the same key must sort-merge join with NO
Exchange in the plan and produce the same rows as the plain join."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from transformio_spark.functions import tiles
from transformio_spark.operators import extract
from transformio_spark.sources import synth


def _exchanges(df) -> int:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return len(set(re.findall(r"\(\d+\) Exchange", plan)))


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf — the session default
    # (./spark-warehouse, gitignored) is used for these two tables
    affine_a = extract.fit_px2geo_affine(synth.gcps(spark))
    pts = extract.extract_coordinates(
        synth.docs_spans(spark, sf_dir), affine_a
    ).withColumn("tile_id", tiles.tile_id(F.col("lon"), F.col("lat"), 6))

    left = pts.select("doc_num", "tile_id", "lon", "lat")
    right = (
        pts.groupBy("tile_id").agg(F.count(F.lit(1)).alias("tile_total"))
    )
    # the session metastore is in-memory: a previous process's
    # warehouse dirs survive but its tables don't, so DROP can't see
    # them — remove the locations directly
    import shutil

    spark.sql("DROP TABLE IF EXISTS pts_b")
    spark.sql("DROP TABLE IF EXISTS tiles_b")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in ("pts_b", "tiles_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    left.write.bucketBy(8, "tile_id").sortBy("tile_id").mode(
        "overwrite"
    ).saveAsTable("pts_b")
    right.write.bucketBy(8, "tile_id").sortBy("tile_id").mode(
        "overwrite"
    ).saveAsTable("tiles_b")

    a = spark.table("pts_b")
    b = spark.table("tiles_b")
    # prevent broadcast so the join strategy is genuinely SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "tile_id")
        n_ex = _exchanges(joined)
        assert n_ex == 0, "bucketed join must not shuffle"
        # results equal the plain (shuffling) join
        plain = left.join(right, "tile_id")
        assert joined.count() == plain.count()
        s1 = joined.agg(F.sum("tile_total")).collect()[0][0]
        s2 = plain.agg(F.sum("tile_total")).collect()[0][0]
        assert s1 == s2
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_radius_cover_cells_recall(spark):
    """Every point within the radius must land in a covered cell —
    the equi-join candidate set can over-cover but never miss."""
    import math

    import numpy as np

    from transformio_spark.functions import tiles
    from transformio_spark.operators.spatial_join import radius_cover_cells

    rng = np.random.default_rng(3)
    for lon0, lat0, r in ((139.69, 35.69, 800.0), (31.2, 30.0, 500.0),
                          (-99.1, 19.4, 1200.0), (10.0, 80.0, 700.0)):
        cells = set(radius_cover_cells(lon0, lat0, r, zoom=6))
        # rejection-sample points inside the radius
        dlat = r / 110.0
        dlon = r / (111.0 * math.cos(math.radians(abs(lat0) + dlat)))
        lons = lon0 + rng.uniform(-dlon, dlon, 4000)
        lats = np.clip(lat0 + rng.uniform(-dlat, dlat, 4000), -84.99, 84.99)
        R = 6367.0
        a = (np.sin(np.radians(lats - lat0) / 2) ** 2
             + np.cos(np.radians(lat0)) * np.cos(np.radians(lats))
             * np.sin(np.radians(lons - lon0) / 2) ** 2)
        d = 2 * R * np.arcsin(np.sqrt(a))
        inside = d <= r
        df = spark.createDataFrame(
            [(float(lo), float(la)) for lo, la in
             zip(lons[inside], lats[inside])],
            "lon double, lat double",
        )
        got = {
            r2.cell for r2 in df.select(
                tiles.tile_id(F.col("lon"), F.col("lat"), 6).alias("cell")
            ).distinct().collect()
        }
        assert got <= cells, f"cover missed cells at ({lon0},{lat0})"


def test_asof_join_backward_semantics(spark):
    from transformio_spark.operators.temporal import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 50, "e2"), (2, 10, "e3"), (3, 7, "e4")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, "r_eq"), (1, 60, "r_mid"), (1, 40, "r_old"), (2, 20, "r_late")],
        "user_id long, ts long, label string",
    )
    out = {
        r.tag: r.who
        for r in asof_join_backward(
            left, right, "user_id", "ts", {"who": "label"}
        ).collect()
    }
    assert out["e1"] == "r_eq"     # tie at equal ts is visible (<=)
    assert out["e2"] == "r_old"    # latest at-or-before 50
    assert out["e3"] is None       # only future right rows
    assert out["e4"] is None       # key with no right rows


def test_asof_join_null_carry_value_still_matches(spark):
    """A matched right row whose carried value is NULL must yield
    NULL, not fall through to an older non-null row (ADVICE r4: the
    carry struct tracks presence independent of value nullability,
    matching DuckDB ASOF LEFT JOIN)."""
    from transformio_spark.operators.temporal import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 30, "e2")], "user_id long, ts long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 20, "old_nonnull"), (1, 90, None)],
        "user_id long, ts long, label string",
    )
    out = {
        r.tag: r.who
        for r in asof_join_backward(
            left, right, "user_id", "ts", {"who": "label"}
        ).collect()
    }
    assert out["e1"] is None      # matched row carries NULL
    assert out["e2"] == "old_nonnull"


def _check_asof_against_bruteforce(spark, lk, lt, rk, rt, trial):
    """``asof_join_backward`` on the given keys/timestamps equals per-row
    brute force (latest right ts <= left ts per key)."""
    from transformio_spark.operators.temporal import asof_join_backward

    # unique right (key, ts) so "the latest" is well-defined
    seen = set()
    rrows = []
    for k, t in zip(rk, rt):
        if (int(k), int(t)) not in seen:
            seen.add((int(k), int(t)))
            rrows.append((int(k), int(t), f"r{k}-{t}"))
    lrows = [(int(k), int(t), i) for i, (k, t) in enumerate(zip(lk, lt))]
    left = spark.createDataFrame(lrows, "k long, ts long, lid long")
    right = spark.createDataFrame(rrows, "k long, ts long, label string")

    got = {
        r.lid: r.who
        for r in asof_join_backward(
            left, right, "k", "ts", {"who": "label"}
        ).collect()
    }
    for k, t, lid in lrows:
        cands = [(rt_, lab) for rk_, rt_, lab in rrows
                 if rk_ == k and rt_ <= t]
        expect = max(cands)[1] if cands else None
        assert got[lid] == expect, (trial, lid)


def test_asof_join_salted_equals_unsalted_hot_key(spark):
    """Skew: on a corpus where one key owns 80% of rows (its whole
    sorted run lands on one window partition), the single-window as-of
    join still equals per-row brute force."""
    import numpy as np

    rng = np.random.default_rng(23)
    n_l, n_r = 400, 300
    lk = np.where(rng.random(n_l) < 0.8, 7, rng.integers(0, 5, n_l))
    lt = rng.integers(0, 10_000, n_l)
    rk = np.where(rng.random(n_r) < 0.8, 7, rng.integers(0, 5, n_r))
    rt = rng.integers(0, 10_000, n_r)
    assert (lk == 7).mean() > 0.7 and (rk == 7).mean() > 0.7
    _check_asof_against_bruteforce(spark, lk, lt, rk, rt, "hot")


def test_asof_join_random_matches_bruteforce(spark):
    """Property: on random keyed event sets, the union+window as-of
    equals per-row brute force (latest right ts <= left ts per key)."""
    import numpy as np

    rng = np.random.default_rng(17)
    for trial in range(3):
        n_l, n_r = 40, 60
        lk = rng.integers(0, 5, n_l)
        lt = rng.integers(0, 100, n_l)
        rk = rng.integers(0, 5, n_r)
        rt = rng.integers(0, 100, n_r)
        _check_asof_against_bruteforce(spark, lk, lt, rk, rt, trial)


def test_sessionize_semantics(spark):
    """Crafted timeline: gap exactly == threshold stays in session,
    gap > threshold splits; first event always opens session 0."""
    from datetime import datetime, timedelta

    from transformio_spark.operators.temporal import sessionize

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: events at 0s, 30s (==gap stays), 31s, then +61s (splits)
        (1, 1, t0),
        (2, 1, t0 + timedelta(seconds=30)),
        (3, 1, t0 + timedelta(seconds=61)),
        (4, 1, t0 + timedelta(seconds=200)),
        # user 2: single event
        (5, 2, t0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        r.event_id: r.session_idx
        for r in sessionize(df, gap_seconds=30, key_col="user_id").collect()
    }
    # 30s gap == threshold -> same session; 31s later (31 > 30) splits;
    # 139s later splits again
    assert out == {1: 0, 2: 0, 3: 1, 4: 2, 5: 0}


def test_sessionize_tiebreak_and_invariance(spark):
    from datetime import datetime

    from transformio_spark.operators.temporal import sessionize

    t0 = datetime(2024, 1, 1)
    # identical timestamps: tiebreak on event_id keeps numbering
    # deterministic
    rows = [(i, 7, t0) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    a = sorted(
        (r.event_id, r.session_idx)
        for r in sessionize(df, 60).collect()
    )
    b = sorted(
        (r.event_id, r.session_idx)
        for r in sessionize(df.repartition(5), 60).collect()
    )
    assert a == b
    assert all(s == 0 for _, s in a)  # zero gaps -> one session
    import pytest as _pytest

    with _pytest.raises(ValueError, match="gap_seconds"):
        sessionize(df, 0)


def test_sessionize_matches_gap_rule(spark):
    """``sessionize`` numbers sessions exactly as a pure-Python gap
    rule (order each key's events by (ts, event_id); a gap of <= 30 s
    stays in the session, a larger one opens the next) on a hot key,
    exact-threshold gaps, a tie burst, a far straggler and sparse
    keys."""
    import random
    from collections import defaultdict
    from datetime import datetime, timedelta

    from transformio_spark.operators.temporal import sessionize

    t0 = datetime(2024, 1, 1)
    rng = random.Random(13)
    rows = []
    eid = 0
    # hot key 1: 600 events, gaps alternating under/over threshold,
    # including exact-threshold gaps (==30 s stays)
    t = t0
    for i in range(600):
        step = rng.choice([1, 5, 30, 31, 90])
        t = t + timedelta(seconds=step)
        rows.append((eid, 1, t))
        eid += 1
    # key 2: a tie burst (identical ts) + a far-future straggler
    rows += [(eid + i, 2, t0 + timedelta(seconds=5)) for i in range(8)]
    eid += 8
    rows.append((eid, 2, t0 + timedelta(days=2)))
    eid += 1
    # sparse keys
    for k in range(3, 20):
        for _ in range(rng.randrange(1, 5)):
            rows.append(
                (eid, k, t0 + timedelta(seconds=rng.randrange(0, 5000)))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )

    by_key = defaultdict(list)
    for e, k, ts in rows:
        by_key[k].append((ts, e))
    expect = {}
    for events in by_key.values():
        events.sort()
        idx, prev = -1, None
        for ts, e in events:
            if prev is None or ts - prev > timedelta(seconds=30):
                idx += 1
            expect[e] = idx
            prev = ts
    got = {
        r.event_id: r.session_idx
        for r in sessionize(df, 30, key_col="user_id").collect()
    }
    assert got == expect
    assert len(set(expect.values())) > 2
