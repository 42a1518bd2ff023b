"""Physical-plan regression tests: the optimizations that matter at
100 TB must be visible in the plan, not just in wall-clock —
broadcast HASH joins (not nested-loop), column pruning to the parquet
scan, inline kNN without any join, bounded shuffle counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transformio_spark.plans import queries as q


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _python_rdd_scans(plan: str) -> list[str]:
    """``Scan ExistingRDD`` nodes whose RDD is not a localCheckpoint:
    what ``createDataFrame(list)`` plans over a Python RDD (one Python
    worker task per slice, on every action)."""
    return [
        line
        for line in plan.split("\n")
        if line.startswith("Arguments:")
        and "ExistingRDD" in line
        and " at localCheckpoint at " not in line
    ]


def _simple_plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().split("\n")


def _plan_nodes(df):
    """Every node of the final adaptive plan of an executed DataFrame,
    query stages descended into."""

    def walk(node):
        if "QueryStage" in node.nodeName():
            yield from walk(node.plan())
            return
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return list(walk(df._jdf.queryExecution().executedPlan().executedPlan()))


def _interpreted_exprs(df) -> list[str]:
    """Class names of the plan's expressions that Spark evaluates
    interpreted: every ``CodegenFallback`` (lambda higher-order
    functions and their lambdas, among others), which drags its whole
    argument subtree out of generated code, row by row."""
    jvm = df._sc._jvm
    fallback = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"
    )
    found = set()

    def walk(expr):
        if fallback.isInstance(expr):
            found.add(expr.getClass().getSimpleName())
        children = expr.children()
        for i in range(children.size()):
            walk(children.apply(i))

    for node in _plan_nodes(df):
        exprs = node.expressions()
        for i in range(exprs.size()):
            walk(exprs.apply(i))
    return sorted(found)


def _arrow_udf_nodes(df):
    """ArrowEvalPython nodes of the final adaptive plan of an executed
    DataFrame."""
    return [n for n in _plan_nodes(df) if n.nodeName() == "ArrowEvalPython"]


def _jobs_per_execution(spark, build) -> tuple[int, int]:
    """(jobs launched while building the query, jobs of build + collect)
    for one execution under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        n_build = len(tracker.getJobIdsForGroup(group))
        df.collect()
        return n_build, len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_region_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(q.q_region_join_bcast(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pip_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(q.q_pip_triangle(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_inline_has_no_join(spark, sf_dir):
    plan = _plan(q.q_knn_city_assign(spark, sf_dir))
    assert "Join" not in plan  # argmin compiled into the projection


def test_docs_scan_prunes_columns(spark, sf_dir):
    """The spans corpus needs only (l_orderkey, l_linenumber) from
    lineitem — the scan must not read the other 9 columns."""
    from transformio_spark.sources import synth

    plan = _plan(synth.docs_spans(spark, sf_dir))
    scan = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert scan, plan
    line = scan[0]
    assert "l_orderkey" in line and "l_linenumber" in line
    for col in ("l_extendedprice", "l_comment", "l_shipdate", "l_quantity"):
        assert col not in line


def test_tile_counts_shuffle_budget(spark, sf_dir):
    """extract→tile→count must shuffle at most twice (the explicit
    source repartition + the aggregation exchange; AQE may add a
    coalesce but no extra exchanges)."""
    import re

    plan = _plan(q.q_tile_counts(spark, sf_dir))
    # formatted plans list each node twice (tree + details)
    n_exchanges = len(set(re.findall(r"\(\d+\) Exchange", plan)))
    assert n_exchanges <= 3, plan


def test_scale_job_plan(spark, sf_dir):
    """The scaling probe's join must be hash+broadcast with codegen."""
    from pyspark.sql import functions as F

    from transformio_spark.operators import extract, spatial_join
    from transformio_spark.plans.queries import (
        _grid_key_from_box,
        _grid_key_from_coords,
    )
    from transformio_spark.sources import synth

    docs = synth.docs_spans(spark, sf_dir)
    affine_a = extract.fit_px2geo_affine(synth.gcps(spark))
    pts = extract.extract_coordinates(docs, affine_a)
    boxes = synth.region_boxes(spark, sf_dir)
    joined = spatial_join.broadcast_contains_join(
        pts, boxes, point_key=_grid_key_from_coords, box_key=_grid_key_from_box
    )
    plan = _plan(joined.groupBy("region_id").count())
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_broadcasts_query_side(spark, sf_dir):
    """Brute-force embedding kNN must broadcast the (tiny) QUERY set,
    never the corpus — the corpus is the 10^12-row side at scale.
    Also pin the map-side WindowGroupLimit(Partial): only the per-
    partition top-k reaches the shuffle."""
    plan = _plan(q.q_embedding_knn_l2(spark, sf_dir))
    # the BroadcastExchange node's Input must be the query projection
    import re

    m = re.search(r"BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, plan
    assert "query_id" in m.group(1), m.group(1)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_pip_polygon_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(q.q_pip_polygon(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_cartesian_or_row_python_in_any_query(spark, sf_dir):
    """Sweep EVERY driver query's physical plan: no CartesianProduct
    and no row-at-a-time Python UDF (BatchEvalPython) anywhere —
    Python crossings must be Arrow-vectorized (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas only).  BroadcastNestedLoopJoin
    is allowed only for the deliberate brute-force kNN baseline
    (query-side broadcast cross product)."""
    import __spark_entry__ as entrymod

    bnlj_ok = {
        "embedding_knn_l2",  # deliberate brute-force cross, query side broadcast
        # same deliberate cross: int8 candidate stage scores every
        # corpus row against the BROADCAST 10-query set before the
        # top-20 window prunes
        "embedding_int8_rerank",
        "hotspot_share",     # crossJoin of two SINGLE-ROW aggregates (scalar join)
        # interval-overlap pruning join of tile bboxes vs the BROADCAST
        # 25-row region dim: O(|tiles|*25) predicate evals in one pass,
        # zero shuffles — the per-pixel work stays in the JVM fold after
        # the prune (operators/raster.zonal_stats docstring).
        "zonal_stats",
    }
    for name, fn in sorted(entrymod.queries().items()):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # driver literals are LocalTableScans; an RDD scan may only
        # read a materialized checkpoint, never a Python RDD
        assert not _python_rdd_scans(plan), (name, _python_rdd_scans(plan))
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_radius_join_is_broadcast_hash(spark, sf_dir):
    """The range join must be a broadcast HASH equi-join on the tile
    key (cover explosion), never a nested-loop distance join."""
    from transformio_spark.plans import queries as qq

    plan = _plan(qq.q_radius_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of operator itself pays exactly ONE exchange (the window
    partition on the join key) — no range join, no extra shuffles."""
    import re

    from pyspark.sql import functions as F

    from transformio_spark.operators.temporal import asof_join_backward
    from transformio_spark.streaming.stream import EVENTS_SCHEMA

    ev = spark.read.schema(EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts")
    )
    out = asof_join_backward(clicks, views, "user_id", "ts", {"v": "view_ts"})
    plan = _plan(out)
    n_ex = len(set(re.findall(r"\(\d+\) Exchange", plan)))
    assert n_ex == 1, f"expected exactly 1 shuffle, plan had {n_ex}"


def test_s2_hex_pii_plans_are_narrow(spark, sf_dir):
    """Round-5 additions: the spherical index, hex binning, and PII
    scrub are single-aggregate narrow plans — exactly ONE hash
    exchange (the groupBy; orderBy+limit compiles to
    TakeOrderedAndProject, no range shuffle), zero joins, all
    whole-stage codegen (no interpreted higher-order aggregate in the
    per-row path)."""
    import re

    # pin the COLD plan: earlier test modules cache the shared points
    # extraction, and the InMemoryRelation substitution shifts the
    # exchange structure of everything downstream of it
    spark.catalog.clearCache()
    for qfn in (q.q_s2_cells, q.q_hexbin_counts):
        plan = _plan(qfn(spark, sf_dir))
        assert "Join" not in plan, qfn.__name__
        # source repartition + the aggregation exchange; orderBy+limit
        # is TakeOrderedAndProject (no range shuffle)
        n_ex = len(set(re.findall(r"\(\d+\) Exchange", plan)))
        assert n_ex <= 2, (qfn.__name__, plan)
    pii = _plan(q.q_pii_redaction(spark, sf_dir))
    assert "Join" not in pii
    # countDistinct = two-phase aggregate (2 exchanges) + the full
    # orderBy's range exchange; nothing else
    n_ex = len(set(re.findall(r"\(\d+\) Exchange", pii)))
    assert n_ex <= 4, pii


def test_lm_and_index_plans_shuffle_on_keys_only(spark, sf_dir):
    """unigram_nll and inverted_index: hash aggregates + one
    vocab-keyed equi-join (unigram) — never a cartesian/nested-loop,
    and the big side shuffles on the aggregate keys only."""
    spark.catalog.clearCache()
    nll = _plan(q.q_unigram_nll(spark, sf_dir))
    assert "CartesianProduct" not in nll
    assert "BroadcastNestedLoopJoin" not in nll
    inv = _plan(q.q_inverted_index(spark, sf_dir))
    assert "Join" not in inv  # pure two-level aggregate
    assert "CartesianProduct" not in inv


def test_mollweide_staged_plan_has_no_interpreted_fold(spark, sf_dir):
    """The staged Newton unroll must keep the Mollweide gate query
    free of the interpreted F.aggregate lambda (round-5 rewrite:
    9.1s -> 3.2s at sf0.1)."""
    df = q.q_mollweide_cells(spark, sf_dir)
    # the fold's signature is the array_repeat dummy-element carrier;
    # expression-level detail lives in the optimized plan, not the
    # formatted operator list
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the fold's signature: an aggregate( HOF over an array_repeat
    # dummy-element carrier
    assert "array_repeat" not in opt
    assert "aggregate(" not in opt


def test_int8_rerank_has_two_level_topk(spark, sf_dir):
    """Round 6: the approx ranking pre-reduces per (query, salt) lane
    before the global per-query window, so no corpus-sized partition
    ever feeds a single ranking task (ADVICE r05 #4).  The plan must
    carry BOTH row_number windows."""
    import re

    plan = q.q_embedding_int8_rerank(
        spark, sf_dir
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan
    assert len(re.findall(r"row_number", plan)) >= 3  # salt + global + rerank


def test_poly_roundtrip_is_one_python_crossing(spark, sf_dir):
    """Forward + inverse run as ONE kernel chain: one ArrowEvalPython
    node, not one per transform."""
    lines = _simple_plan_lines(q.q_poly_roundtrip(spark, sf_dir))
    assert sum("ArrowEvalPython" in line for line in lines) == 1, lines


def test_refit_outputs_are_not_range_sorted(spark, sf_dir):
    """No range-partition exchange above the refit applyInPandas: its
    sampling job would run the whole grouped Python refit a second
    time."""
    for qfn in (q.q_loo_residuals, q.q_auto_choose_model):
        lines = _simple_plan_lines(qfn(spark, sf_dir))
        at = next(
            i for i, line in enumerate(lines)
            if "FlatMapGroupsInPandas" in line
        )
        above = lines[:at]
        assert not any("rangepartitioning" in line for line in above), (
            qfn.__name__, lines,
        )


def test_point_kernels_run_one_python_wave(spark, sf_dir):
    """The pandas-UDF stage over the points reads at most one
    partition per core: each Python task pays a fixed worker start,
    so a second wave costs a second start on every core."""
    cores = spark.sparkContext.defaultParallelism
    for qfn in (q.q_tin_transform, q.q_poly_roundtrip):
        df = qfn(spark, sf_dir)
        df.collect()
        nodes = _arrow_udf_nodes(df)
        assert nodes, qfn.__name__
        for node in nodes:
            n = node.execute().getNumPartitions()
            assert n <= cores, (qfn.__name__, node.nodeName(), n, cores)


def test_loo_residuals_job_budget(spark, sf_dir):
    """At most 3 jobs per execution (hash-exchange map, refit stage,
    final single-task sort); a range sort would add a sampling job."""
    for i in range(2):
        _, jobs = _jobs_per_execution(
            spark, lambda: q.q_loo_residuals(spark, sf_dir)
        )
        assert jobs <= 3, (i, jobs)


def test_knn_city_assign_builds_without_jobs(spark, sf_dir):
    """A warm build launches no job: the inline kNN collects its
    literal center table, a LocalTableScan, with none, and every
    source table is read with its declared schema, so no parquet
    schema inference runs either.  The other queries pin the latter."""
    for name in (
        "knn_city_assign", "region_join_bcast", "pip_triangle",
        "pricing_summary", "gc_waypoints",
    ):
        qfn = getattr(q, f"q_{name}")
        qfn(spark, sf_dir)
        for i in range(2):
            build_jobs, _ = _jobs_per_execution(
                spark, lambda: qfn(spark, sf_dir)
            )
            assert build_jobs == 0, (name, i, build_jobs)


@pytest.mark.parametrize(
    "name",
    [
        "points_df", "tile_counts", "region_join_bcast", "pip_triangle",
        "knn_city_assign", "tin_transform", "poly_roundtrip",
        "mercator_cells",
    ],
)
def test_points_family_runs_in_generated_code(spark, sf_dir, name):
    """No interpreted expression on the points path: the span slice,
    the affine and lattice snap, the tile keys, the join refines and
    the kNN argmin all run in generated code.  (``region_join_salted``
    is left out: its one ``transform`` builds the tile cover of the 25
    region boxes, not the points side.)"""
    qfn = q.points_df if name == "points_df" else getattr(q, f"q_{name}")
    assert _interpreted_exprs(qfn(spark, sf_dir)) == [], name


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_source_ddl_matches_parquet_footer(spark, sf_dir, sf):
    """Each declared source schema equals the schema Spark reads from
    the parquet footer (timestamps as instants), names and types."""
    import os

    from transformio_spark.sources import synth

    root = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), sf)
    if not os.path.isdir(root):
        pytest.skip(f"no {sf} test data")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name, ddl in synth.SOURCE_DDL.items():
            footer = spark.read.parquet(f"{root}/{name}.parquet").schema
            declared = synth.read_table(spark, root, name).schema
            assert [(f.name, f.dataType) for f in declared] == [
                (f.name, f.dataType) for f in footer
            ], (sf, name, ddl)
    finally:
        spark.conf.set(key, prior)


def test_grid_dbscan_union_find_reads_checkpoint(spark, sf_dir):
    """The single union-find task of grid_dbscan reads the
    materialized edge set: the child of its ``Coalesce 1`` is a
    checkpoint scan with no join below it, so edge generation (the
    neighbor join) runs in parallel before the single task starts."""
    df = q.q_grid_dbscan(spark, sf_dir)
    df.collect()
    uf = [
        n for n in _plan_nodes(df)
        if n.nodeName() == "MapInPandas" and "_uf_partition" in n.toString()
    ]
    assert len(uf) == 1, [n.toString() for n in uf]

    def child(node):
        # skip the codegen wrappers between operators
        node = node.children().apply(0)
        while node.nodeName().startswith(("WholeStageCodegen", "InputAdapter")):
            node = node.children().apply(0)
        return node

    coalesce = child(uf[0])
    assert coalesce.nodeName() == "Coalesce", coalesce.toString()
    assert coalesce.numPartitions() == 1, coalesce.toString()
    scan = child(coalesce)
    assert scan.nodeName() == "Scan ExistingRDD", scan.toString()
    assert " at localCheckpoint at " in scan.rdd().toString()
    assert scan.children().size() == 0


@pytest.mark.parametrize(
    "name,budget",
    [
        ("grid_dbscan", 13), ("curation_funnel", 15), ("neardup_components", 8),
        ("event_sessions", 4), ("events_asof_join", 4), ("gc_waypoints", 6),
        ("region_join_bcast", 5), ("pip_triangle", 5), ("knn_city_assign", 4),
    ],
)
def test_component_queries_job_budget(spark, sf_dir, name, budget):
    """Jobs per warm execution (build + collect) of the queries that
    label connected components, of the single-shuffle temporal
    queries, of gc_waypoints and of the points-family joins (whose
    one-task bounded sort runs no range-sampling job): a new driver
    barrier fails here."""
    qfn = getattr(q, f"q_{name}")
    qfn(spark, sf_dir).collect()
    _, jobs = _jobs_per_execution(spark, lambda: qfn(spark, sf_dir))
    assert jobs <= budget, (name, jobs)
