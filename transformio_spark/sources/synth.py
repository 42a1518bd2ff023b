"""Spark-side deterministic corpus builders.

Derives the interleaved-docs spans table (BASELINE.json:input_hint
shape), the GCP table, and the region tables from the driver's
read-only parquet testdata using ONLY the shared derivation spec
(sources/synthspec.py) — every coordinate is pure integer arithmetic
on doc_id, so the DuckDB oracle (sources/oracle.py) reproduces it
exactly.

The docs table is the engine's canonical input:
  docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
with 2-5 interleaved spans per doc, >=1 media span carrying a
``geo:<lon>,<lat>`` or ``px:<col>,<row>`` payload (FIXTURES.md §1).
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import synthspec


def literal_table(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """A small driver-literal table: ``rows`` (tuples in ``ddl`` column
    order) as a DataFrame with exactly the DDL schema.

    Goes through an Arrow table, which Spark plans as an in-memory
    ``LocalTableScan``.  ``createDataFrame(list)`` instead plans
    ``Scan ExistingRDD`` over a Python RDD, and every action over it
    launches one Python worker task per slice — each paying the
    worker's fixed start cost (~0.2 s) to hand back a few literal rows.
    (A pandas frame would reach the same plan, except that an empty
    frame silently takes the Python-RDD path and NaN turns into null.)

    Values convert exactly: Python ints without overflow (an int that
    does not fit its DDL type raises), doubles bit for bit including
    NaN and -0.0, ``None`` as null.  A LocalTableScan splits its rows
    over up to ``defaultParallelism`` partitions: callers whose result
    depends on row order across the table (an order-sensitive fold)
    add ``.coalesce(1)``."""
    schema = StructType.fromDDL(ddl)
    columns = list(zip(*rows, strict=True)) or [()] * len(schema)
    table = pa.table(
        {name: list(col) for name, col in zip(schema.names, columns, strict=True)}
    )
    return spark.createDataFrame(table, schema)


#: The declared schema of each source table the engine reads: its
#: parquet footer schema, with timestamps read as instants
#: (``timestamp``, as Spark infers them with
#: ``spark.sql.parquet.inferTimestampNTZ.enabled`` off).  A wall-clock
#: ``timestamp_ntz`` would tie every ``unix_micros`` to the session
#: time zone.  Pinned against the footers in tests/test_plan_quality.py.
SOURCE_DDL = {
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "events": "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Source table ``name`` of ``sf_dir`` with its declared schema.
    A bare ``read.parquet`` infers the schema from the file footer in
    a one-task job each time a query is built; a declared schema plans
    with no job."""
    return spark.read.schema(SOURCE_DDL[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def raw_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flat documents corpus.  Same conditional-repartition logic
    as docs_spans: the local testdata is a single-row-group parquet
    file → one scan split, which would serialize the shingling /
    hashing of every text-analysis and dedup operator onto ONE core
    (measured: the round-4 simhash explode ran 1-task, ~8 s where
    ~1 s is available; an Iceberg scan on a cluster yields many
    splits and skips this)."""
    scan = read_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism * 2
    if _scan_splits(spark, f"{sf_dir}/documents.parquet") < par:
        scan = scan.repartition(par, "doc_id")
    return scan


@functools.lru_cache
def _scan_splits(spark: SparkSession, parquet_path: str) -> int:
    """Number of scan splits Spark plans for ``parquet_path``: a
    driver-side plan->RDD conversion, probed once per (session, path)
    instead of once per query build.  Splits depend on the file sizes
    alone, so the probe declares a placeholder schema; that skips the
    one-task schema-inference job a bare ``read.parquet`` launches."""
    return spark.read.schema("_ int").parquet(parquet_path).rdd.getNumPartitions()


_SPAN_FIELDS = "kind string, text string, media_ref string, offset int"

# docs derive from lineitem (the only testdata table that actually
# scales with sf: 6k/60k/600k rows) — doc_num is the unique
# lineitem key; the flat `documents` table stays the corpus for the
# pure text-analysis operators.
DOC_NUM_SQL = "(l_orderkey * 8 + l_linenumber)"


def _spans_base(
    spark: SparkSession, sf_dir: str, with_text: bool
) -> DataFrame:
    """Shared per-doc base table for docs_spans / media_points_numeric:
    doc_num + the point-derivation columns (+ the md5 text when asked).

    The local testdata is a single-row-group parquet file → one scan
    split; without an explicit repartition every downstream narrow
    op would run on ONE task regardless of core count.  On a real
    cluster the Iceberg scan yields many splits and the exchange
    would be pure waste — so it is CONDITIONAL on the actual scan
    parallelism (driver-side plan inspection, no job).  Results are
    partitioning-independent either way."""
    e = synthspec.point_exprs_sql("doc_num")
    par = spark.sparkContext.defaultParallelism * 2
    scan = read_table(spark, sf_dir, "lineitem").selectExpr(
        f"{DOC_NUM_SQL} AS doc_num"
    )
    if _scan_splits(spark, f"{sf_dir}/lineitem.parquet") < par:
        scan = scan.repartition(par, "doc_num")
    # two-stage select: px_col/px_row re-use the already-computed
    # lon/lat columns instead of re-expanding the CASE derivation text
    # (e["px_col"] is literally "((<base_lon>) + 180e0) * 100e0", so
    # staging evaluates the identical double ops on the identical
    # input — bit-equal, ~2x fewer CASE evaluations per row).
    text_cols = (
        "concat(md5(cast(doc_num as string)), "
        "md5(cast(doc_num + 1 as string)), "
        "md5(cast(doc_num + 2 as string))) AS text",
    ) if with_text else ()
    return scan.selectExpr(
        "doc_num",
        *text_cols,
        f"{e['lon']} AS lon",
        f"{e['lat']} AS lat",
        f"{e['is_px']} AS is_px",
        f"{e['has_second']} AS has_second",
        f"{e['lon2']} AS lon2",
        f"{e['lat2']} AS lat2",
    ).withColumns(
        {
            "px_col": F.expr("(lon + 180e0) * 100e0"),
            "px_row": F.expr("(lat + 85e0) * 100e0"),
        }
    )


def _doc_id_col() -> F.Column:
    return F.concat(
        F.lit("doc-"), F.lpad(F.col("doc_num").cast("string"), 12, "0")
    )


def media_points_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VALUE-LEVEL twin of
    ``extract.media_points(docs_spans(spark, sf_dir, media_only=True))``
    (round 6, guide §4/§2.3: keep the JVM work, drop the string
    round-trip): (doc_id, doc_num, span_pos, ref_kind, raw_x, raw_y)
    with bit-identical rows, WITHOUT materializing the ``media_ref``
    strings that extraction immediately parses back.

    Why this is exact: a payload coordinate's observable value is
    defined by its fixed-scale decimal rendering —
    ``cast(double as decimal(14,s))`` (HALF_UP) then parse-to-double.
    Both ``cast(decimal as string)`` → ``cast(string as double)`` and
    the direct ``cast(decimal as double)`` produce the correctly
    rounded nearest double of the SAME decimal value, so applying the
    decimal cast value-side replaces render+parse bit-for-bit (pinned
    over the full corpus in tests/test_extract_fastpath.py).  The
    span structure (presence condition, ordering, span_pos) is the
    media-only layout verbatim."""
    base = _spans_base(spark, sf_dir, with_text=False)

    def snap(col: str, scale: int):
        return F.col(col).cast(f"decimal(14,{scale})").cast("double")

    primary = F.struct(
        F.when(F.col("is_px"), F.lit("px")).otherwise(F.lit("geo")).alias(
            "ref_kind"
        ),
        F.when(F.col("is_px"), snap("px_col", 2))
        .otherwise(snap("lon", 4))
        .alias("raw_x"),
        F.when(F.col("is_px"), snap("px_row", 2))
        .otherwise(snap("lat", 4))
        .alias("raw_y"),
    )
    secondary = F.struct(
        F.lit("geo").alias("ref_kind"),
        snap("lon2", 4).alias("raw_x"),
        snap("lat2", 4).alias("raw_y"),
    )
    # slice, not a filter lambda: a lambda runs interpreted, row by
    # row, inside the generated stage (DESIGN.md §3)
    spans = F.slice(
        F.array(primary, secondary),
        1,
        F.when(F.col("doc_num") % 3 == 2, 2).otherwise(1),
    )
    return (
        base.select(
            _doc_id_col().alias("doc_id"),
            "doc_num",
            F.posexplode(spans).alias("span_pos", "_s"),
        )
        .select(
            "doc_id",
            "doc_num",
            "span_pos",
            F.col("_s.ref_kind").alias("ref_kind"),
            F.col("_s.raw_x").alias("raw_x"),
            F.col("_s.raw_y").alias("raw_y"),
        )
    )


def span_pair_points_numeric(
    spark: SparkSession, sf_dir: str, affine_A
) -> DataFrame:
    """VALUE-LEVEL twin of
    ``extract.span_pair_points(docs_spans(spark, sf_dir,
    media_only=True), affine_A)`` — the (primary, secondary) pair
    table without the media_ref render+parse round trip, same decimal
    snap argument as media_points_numeric (pinned row-equal in
    tests/test_extract_fastpath.py)."""
    from ..operators.extract import px_affine_sql

    base = _spans_base(spark, sf_dir, with_text=False).where(
        F.col("doc_num") % 3 == 2
    )

    def snap(col: str, scale: int):
        return F.col(col).cast(f"decimal(14,{scale})").cast("double")

    rx0 = F.when(F.col("is_px"), snap("px_col", 2)).otherwise(snap("lon", 4))
    ry0 = F.when(F.col("is_px"), snap("px_row", 2)).otherwise(snap("lat", 4))
    staged = base.select(
        _doc_id_col().alias("doc_id"),
        "doc_num",
        F.col("is_px").alias("_px0"),
        rx0.alias("_rx0"),
        ry0.alias("_ry0"),
        snap("lon2", 4).alias("lon1"),
        snap("lat2", 4).alias("lat1"),
    )
    lon0, lat0 = px_affine_sql(affine_A, "_px0", "_rx0", "_ry0")
    return staged.selectExpr(
        "doc_id", "doc_num", f"{lon0} AS lon0", f"{lat0} AS lat0", "lon1", "lat1"
    )


def docs_spans(
    spark: SparkSession, sf_dir: str, media_only: bool = False
) -> DataFrame:
    """The interleaved text+media docs table.

    Span layout (doc_num-deterministic, offsets strictly increasing):
      0: text  substr(text, 1, 24)                       offset 0
      1: media geo:%.4f,%.4f | px:%.2f,%.2f (primary)    offset 24
      2: text  substr(text, 25, 24)   when doc_num%3>=1  offset 48
      3: media geo (secondary point)  when doc_num%3==2  offset 72
      4: text  substr(text, 49, 24)   when doc_num%2==1  offset 96

    ``media_only=True`` (round 6, guide §2.3 "project early") builds
    ONLY the two media spans — identical media_ref strings, identical
    per-doc media-span order and count, so any consumer that reads
    just the media spans (the whole extraction family; the DuckDB
    pts CTE never models text spans either) gets bit-identical
    results while skipping the 3 md5 + substring text spans Catalyst
    cannot prune out of the constructed array (pinned equal in
    tests/test_extract_fastpath.py).
    """
    base = _spans_base(spark, sf_dir, with_text=not media_only)
    # fixed-scale decimal rendering: cast(double -> decimal(14,s) ->
    # string) prints the same digits as format_string("%.sf") here
    # (both round HALF_UP at a scale the values already live on — the
    # payload lattice is 1e-4 / 1e-2 by construction) without the
    # java.util.Formatter per-row cost.  String equality with the
    # %.4f/%.2f rendering over the whole corpus is pinned in
    # tests/test_extract_fastpath.py.
    def _fixed(col: str, scale: int):
        return F.col(col).cast(f"decimal(14,{scale})").cast("string")

    primary_ref = F.when(
        F.col("is_px"),
        F.concat(
            F.lit("px:"), _fixed("px_col", 2), F.lit(","), _fixed("px_row", 2)
        ),
    ).otherwise(
        F.concat(F.lit("geo:"), _fixed("lon", 4), F.lit(","), _fixed("lat", 4))
    )

    def text_span(start: int, offset: int):
        return F.struct(
            F.lit("text").alias("kind"),
            F.substring("text", start, 24).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(offset).alias("offset"),
        )

    def media_span(ref, offset: int):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            F.lit(offset).alias("offset"),
        )

    secondary_ref = F.concat(
        F.lit("geo:"), _fixed("lon2", 4), F.lit(","), _fixed("lat2", 4)
    )
    if media_only:
        # same two media spans, same order, same refs, same presence
        # condition as positions 1 and 3 of the full layout
        all_spans = F.array(
            media_span(primary_ref, 24),
            media_span(secondary_ref, 72),
        )
        spans = F.filter(
            all_spans,
            lambda s, i: (i == 0)
            | ((i == 1) & (F.col("doc_num") % 3 == 2)),
        )
    else:
        all_spans = F.array(
            text_span(1, 0),
            media_span(primary_ref, 24),
            text_span(25, 48),
            media_span(secondary_ref, 72),
            text_span(49, 96),
        )
        spans = F.filter(
            all_spans,
            lambda s, i: (i < 2)
            | ((i == 2) & (F.col("doc_num") % 3 >= 1))
            | ((i == 3) & (F.col("doc_num") % 3 == 2))
            | ((i == 4) & (F.col("doc_num") % 2 == 1)),
        )
    return base.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_num").cast("string"), 12, "0")).alias(
            "doc_id"
        ),
        F.col("doc_num"),
        spans.alias("spans"),
    )


def gcps(spark: SparkSession) -> DataFrame:
    """The px→geo ground-control-point table (FIXTURES.md §2 shape)."""
    rows = [
        ("px2geo", i, sx, sy, dx, dy)
        for i, (sx, sy, dx, dy) in enumerate(synthspec.GCPS_PX_GEO)
    ]
    return literal_table(
        spark,
        rows,
        "set_id string, gcp_id int, src_x double, src_y double, dst_x double, dst_y double",
    )


def region_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 axis-aligned region boxes tiling the lon/lat domain exactly
    (5x5), keyed by nation — a deterministic polygon layer whose
    containment join has an exact SQL oracle.  Every point falls in
    exactly one box."""
    return read_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS region_id",
        "n_name AS region_name",
        "-180.0 + (n_nationkey % 5) * 72.0 AS lon_min",
        "-180.0 + (n_nationkey % 5) * 72.0 + 72.0 AS lon_max",
        "-85.0 + cast(floor(n_nationkey / 5) as int) * 34.0 AS lat_min",
        "-85.0 + cast(floor(n_nationkey / 5) as int) * 34.0 + 34.0 AS lat_max",
    )


def region_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One convex triangle per nation, strictly inside its box —
    drives the exact point-in-polygon (sign-test) join, generalizing
    the reference TIN's point-in-triangle kernel
    (reference transforms.py:687-694) to a relational operator.

    Vertices are emitted on the integer 1e-5-degree lattice (bigint)
    so the sign test is EXACT integer arithmetic in both Spark and the
    DuckDB oracle — no cross-engine float-boundary ambiguity."""
    return region_boxes(spark, sf_dir).selectExpr(
        "region_id",
        "region_name",
        "cast((lon_min + 8.0)  * 100000 as bigint) AS x1",
        "cast((lat_min + 4.0)  * 100000 as bigint) AS y1",
        "cast((lon_min + 64.0) * 100000 as bigint) AS x2",
        "cast((lat_min + 10.0) * 100000 as bigint) AS y2",
        "cast((lon_min + 30.0) * 100000 as bigint) AS x3",
        "cast((lat_max - 4.0)  * 100000 as bigint) AS y3",
    )


def region_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One concave polygon per nation, strictly inside its box — the
    arbitrary-ring point-in-polygon operator's region table (SURVEY
    §2.6 N3 completion beyond boxes/triangles).

    ``ring`` is a CLOSED array<struct<x:bigint, y:bigint>> of integer
    1e-5-lattice vertices, so the even-odd ray-cast is exact integer
    arithmetic in both Spark and the DuckDB oracle."""
    pts = ", ".join(
        f"named_struct('x', cast((lon_min + {dx}.0) * 100000 as bigint), "
        f"'y', cast((lat_min + {dy}.0) * 100000 as bigint))"
        for dx, dy in synthspec.POLYGON_OFFSETS
    )
    return region_boxes(spark, sf_dir).selectExpr(
        "region_id", "region_name", f"array({pts}) AS ring"
    )


def knn_centers(spark: SparkSession) -> DataFrame:
    """The 10 hotspot city centers as a broadcastable center table
    for kNN control-point matching."""
    rows = [(i, lon, lat) for i, (lon, lat) in enumerate(synthspec.CITIES)]
    return literal_table(spark, rows, "center_id int, lon double, lat double")
