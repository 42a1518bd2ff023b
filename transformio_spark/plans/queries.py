"""Named engine queries for the driver correctness gate.

Each function takes (spark, sf_dir) and returns a DataFrame; the
matching DuckDB oracle SQL lives in plans/oracles.py.  Naming/scaling
conventions shared with the oracles:

- every float output is scaled to an integer column named ``*_eN``
  (``cast(round(x * 10^N) as bigint)``) so cross-engine value hashes
  can never differ in the last ulp;
- containment/PIP predicates run on the integer 1e-5 lattice;
- all aggregates are explicitly aliased (driver hashes by column
  name).
"""

from __future__ import annotations

import functools
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import geo, text, tiles
from ..operators import extract, spatial_join
from ..sources import synth

TILE_ZOOM = 10


def _e(col, n: int = 6):
    return F.round(col * float(10 ** n), 0).cast("long")


def _bounded_sort(df: DataFrame, *cols) -> DataFrame:
    """Total order for a BOUNDED output (round 6, guide §2.4):
    callers' row counts are capped by a fixed cell grid (zoom-10
    tiles <= 524,288 rows; zoom-8 Morton cells <= 65,536) or by a
    literal or dimension table (one row per GCP, per region <= 25, per
    kNN center <= 10) at ANY corpus scale, so the global-sort
    machinery — range-exchange sampling pass + shuffle +
    per-partition sorts — costs more than ONE bounded task sorting
    the whole result.  Row order is identical to orderBy(*cols).
    Interleaved same-session probes on hotspot_focal's 438 k rows:
    noop sink 3.05 → 2.56 s, collect sink 4.49 → 4.11 s
    (driver-side deserialization dominates collect
    either way, so the single-task row encoding is NOT a bottleneck —
    first suspected from contended in-bench samples, then refuted by
    the controlled probe).  NOT for outputs that grow with the
    corpus; those keep the scalable orderBy."""
    return df.repartition(1).sortWithinPartitions(*cols)


@functools.lru_cache
def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extracted-points DataFrame shared by ~30 gate queries.
    Memoizes the PLAN (an immutable lazy DataFrame), never data:
    every action over it still recomputes from the parquet inputs.
    Rebuilding the identical expression tree cost ~0.3 s of driver
    time per query construction."""
    # round 6: the numeric media-span fastpath — identical rows to
    # extract_coordinates(docs_spans(media_only=True), A) without
    # materializing + re-parsing the media_ref strings (pinned
    # bit-equal over the full corpus in
    # tests/test_extract_fastpath.py)
    pts = synth.media_points_numeric(spark, sf_dir)
    return extract.finish_coordinates(pts, extract.px2geo_affine())


# --------------------------------------------------------------------------
# geospatial pipeline queries
# --------------------------------------------------------------------------

def q_tile_counts(spark, sf_dir) -> DataFrame:
    pts = points_df(spark, sf_dir)
    return (
        pts.select(tiles.tile_id(F.col("lon"), F.col("lat"), TILE_ZOOM).alias("tile_id"))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.desc("n_points"), F.asc("tile_id"))
        .limit(100)
    )


def _grid_key_from_coords(df) -> F.Column:
    """Coarse cell key of a point in the 5x5 region grid — exact
    integer-lattice arithmetic (boxes are 72x34 degrees)."""
    lon_e5 = F.round(F.col("lon") * 100000.0, 0).cast("long")
    lat_e5 = F.round(F.col("lat") * 100000.0, 0).cast("long")
    return (
        F.floor((lat_e5 + 8_500_000) / 3_400_000) * 5
        + F.floor((lon_e5 + 18_000_000) / 7_200_000)
    ).cast("long")


def _grid_key_from_box(df) -> F.Column:
    return (
        F.floor((F.col("lat_min") + 85.0) / 34.0) * 5
        + F.floor((F.col("lon_min") + 180.0) / 72.0)
    ).cast("long")


def _grid_key_from_triangle(df) -> F.Column:
    # triangle vertices are e5-lattice bigints inside their box:
    # x1 = (lon_min + 8) * 1e5 with lon_min = -180 + 72k → exact k
    return (
        F.floor((F.col("y1") + 8_100_000) / 3_400_000) * 5
        + F.floor((F.col("x1") + 17_200_000) / 7_200_000)
    ).cast("long")


def q_region_join_bcast(spark, sf_dir) -> DataFrame:
    pts = points_df(spark, sf_dir)
    boxes = synth.region_boxes(spark, sf_dir)
    joined = spatial_join.broadcast_contains_join(
        pts, boxes, point_key=_grid_key_from_coords, box_key=_grid_key_from_box
    )
    return _bounded_sort(
        joined.groupBy("region_id").agg(F.count(F.lit(1)).alias("n_points")),
        "region_id",
    )


def q_region_join_salted(spark, sf_dir) -> DataFrame:
    """Same answer as q_region_join_bcast through the explicit-salt
    tile-bucketed shuffle path (the non-broadcastable-dim scale plan)."""
    pts = points_df(spark, sf_dir)
    boxes = synth.region_boxes(spark, sf_dir)
    joined = spatial_join.tiled_contains_join(pts, boxes, zoom=4, n_salt=8)
    return _bounded_sort(
        joined.groupBy("region_id").agg(F.count(F.lit(1)).alias("n_points")),
        "region_id",
    )


def q_pip_triangle(spark, sf_dir) -> DataFrame:
    pts = points_df(spark, sf_dir)
    tris = synth.region_triangles(spark, sf_dir)
    joined = spatial_join.point_in_triangle_join_keyed(
        pts, tris,
        point_key=_grid_key_from_coords, tri_key=_grid_key_from_triangle,
    )
    return _bounded_sort(
        joined.groupBy("region_id").agg(F.count(F.lit(1)).alias("n_points")),
        "region_id",
    )


def q_pip_polygon(spark, sf_dir) -> DataFrame:
    """Arbitrary-ring point-in-polygon (SURVEY §2.6 N3 completed):
    concave per-nation lattice polygons, even-odd ray-cast refine
    behind the same coarse-cell broadcast hash join as the box and
    triangle paths."""
    pts = points_df(spark, sf_dir)
    polys = synth.region_polygons(spark, sf_dir)
    joined = spatial_join.point_in_polygon_join(
        pts, polys,
        point_key=_grid_key_from_coords,
        # polygons are strictly inside their 72x34 box -> the coarse
        # 5x5 grid cell IS the region id
        poly_key=lambda df: F.col("region_id").cast("long"),
    )
    return _bounded_sort(
        joined.groupBy("region_id").agg(F.count(F.lit(1)).alias("n_points")),
        "region_id",
    )


def q_knn_city_assign(spark, sf_dir) -> DataFrame:
    pts = points_df(spark, sf_dir)
    centers = synth.knn_centers(spark)
    nearest = spatial_join.knn_join(pts, centers, k=1)
    return _bounded_sort(
        nearest.groupBy("center_id").agg(F.count(F.lit(1)).alias("n_points")),
        "center_id",
    )


def q_hotspot_share(spark, sf_dir) -> DataFrame:
    pts = points_df(spark, sf_dir)
    cells = (
        pts.select(tiles.tile_id(F.col("lon"), F.col("lat"), TILE_ZOOM).alias("tile_id"))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top10 = cells.orderBy(F.desc("n"), F.asc("tile_id")).limit(10)
    total = cells.agg(F.sum("n").alias("total"))
    top_sum = top10.agg(F.sum("n").alias("top"))
    return top_sum.crossJoin(total).select(
        _e(F.col("top").cast("double") / F.col("total"), 6).alias("top10_share_e6")
    )


def q_affine_fit(spark, sf_dir) -> DataFrame:
    """Distributed model fit: groupBy(set_id).applyInPandas over the
    GCP table running the parity kernel (SURVEY.md §2.1 op 1 Spark
    mapping); oracle solves the same normal equations via Cramer."""
    gcps = synth.gcps(spark)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels import Affine

        a = Affine().fit(
            pdf["src_x"].to_numpy(),
            pdf["src_y"].to_numpy(),
            pdf["dst_x"].to_numpy(),
            pdf["dst_y"].to_numpy(),
        ).A
        return pd.DataFrame(
            {
                "a00_e6": [round(a[0, 0] * 1e6)],
                "a01_e6": [round(a[0, 1] * 1e6)],
                "a02_e6": [round(a[0, 2] * 1e6)],
                "a10_e6": [round(a[1, 0] * 1e6)],
                "a11_e6": [round(a[1, 1] * 1e6)],
                "a12_e6": [round(a[1, 2] * 1e6)],
            }
        )

    schema = ", ".join(f"a{i}{j}_e6 long" for i in (0, 1) for j in (0, 1, 2))
    return gcps.groupBy("set_id").applyInPandas(fit, schema)


def q_span_pair_distance(spark, sf_dir) -> DataFrame:
    """Haversine metrics (reference accuracy.py:22-41 formulation,
    R=6367) between each doc's primary and secondary media points."""
    # round 6: numeric span-pair fastpath (no media_ref render+parse;
    # pinned row-equal in tests/test_extract_fastpath.py)
    pairs = synth.span_pair_points_numeric(
        spark, sf_dir, extract.px2geo_affine()
    )
    d = geo.haversine_km(F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1"))
    paired = pairs.select(d.alias("dist_km"))
    return paired.agg(
        _e(F.sqrt(F.avg(F.pow(F.col("dist_km"), 2))), 4).alias("rmse_e4"),
        _e(F.avg(F.abs(F.col("dist_km"))), 4).alias("mae_e4"),
        _e(F.max(F.abs(F.col("dist_km"))), 4).alias("max_e4"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


# --------------------------------------------------------------------------
# training-data / text / similarity queries
# --------------------------------------------------------------------------

def q_quality_by_lang(spark, sf_dir) -> DataFrame:
    docs = synth.raw_documents(spark, sf_dir)
    t = F.col("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text.token_count(t)).alias("sum_tokens"),
            _e(F.avg(text.quality_score(t)), 6).alias("avg_quality_e6"),
            _e(F.avg(text.punct_ratio(t)), 6).alias("avg_punct_e6"),
        )
        .orderBy("lang")
    )


#: per-doc mean unigram NLL above this (e6-scaled nats) flags a doc
#: as out-of-distribution — the CCNet-style perplexity-filter rule.
NLL_FLAG_E6 = 3420000


INT8_CAND = 20   # approx-stage candidates per query before exact re-rank


def q_embedding_int8_rerank(spark, sf_dir) -> DataFrame:
    """Quantized ANN with exact re-rank (round 5 — the
    memory-bandwidth play of a production embedding store: score
    candidates on per-vector symmetric int8 quantization — 4x less
    data moved than float32 — then re-rank the short list exactly).
    Stage 1: integer dot products of int8 codes, scaled back by the
    two per-vector scales (pure double arithmetic on identical
    inputs — bit-deterministic cross-engine), top-INT8_CAND per
    query.  Stage 2: exact integer squared-L2 on the 1e-3
    quantization (the embedding_knn_l2 metric) over the candidates
    only.  Both windows partition on query_id; the corpus side stays
    unbroadcast (it is the 10^12-row side at scale), the query set is
    broadcast.  Output carries BOTH scores so the oracle pins the
    quantizer, the approx ranking, and the re-rank."""
    emb = synth.read_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xd, F.abs))
    denom = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax)
    base = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000.0, 0).cast("long"),
        ).alias("q1k"),
        (amax / F.lit(127.0)).alias("scale"),
        F.transform(xd, lambda x: F.round(x * 127.0 / denom, 0).cast("long")).alias(
            "v8"
        ),
    )
    queries = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("q1k").alias("qa"),
        F.col("scale").alias("sa"),
        F.col("v8").alias("va"),
    )
    pairs = base.where(F.col("vec_id") >= 10).join(F.broadcast(queries))
    # round 6 NEGATIVE RESULT (guide §1.1: measure, then decide): the
    # VERDICT-suggested 64-term element_at unroll of this dot product
    # measured SLOWER than the fold (3.2s vs 2.0s at sf0.1 — the
    # 64-wide expression tree trips codegen's huge-method fallback
    # into per-op interpreted evaluation, worse than one fold over
    # the array), so the fold stays; see OPTIMIZATION_r06.md.
    dot8 = F.aggregate(
        F.zip_with(F.col("va"), F.col("v8"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    approx = F.round(
        dot8.cast("double") * F.col("sa") * F.col("scale") * F.lit(1e6), 0
    ).cast("long")
    # two-level top-K (round 6, the scale fix for the single-partition
    # ranking window): per-(query, salt) candidates first — 32
    # deterministic salt lanes distribute the corpus-sized rank — then
    # the global window only orders 32*INT8_CAND survivors per query.
    # The global top-K under a total order (approx desc, vec_id asc)
    # is contained in the union of per-salt top-Ks, so the candidate
    # set is unchanged.
    # round 6 (§2.3 shuffle keys, not payloads): the two ranking
    # windows used to carry BOTH 64-element long arrays (qa, q1k)
    # per corpus row through their shuffles; the ranking only needs
    # (query_id, vec_id, approx_e6).  The arrays re-attach to the
    # <= 10*INT8_CAND survivors afterwards — the candidate list is
    # broadcast, so the corpus side is never shuffled for the attach
    # either.  Values come from the same base/queries expressions over
    # the same parquet rows -> d2 and the final ranking are identical.
    scored = pairs.select(
        "query_id", "vec_id", approx.alias("approx_e6")
    ).withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(32)))
    w0 = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("approx_e6"), F.asc("vec_id")
    )
    pre = scored.withColumn("_srnk", F.row_number().over(w0)).where(
        F.col("_srnk") <= INT8_CAND
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("approx_e6"), F.asc("vec_id")
    )
    cand_keys = (
        pre.select("query_id", "vec_id", "approx_e6")
        .withColumn("crnk", F.row_number().over(w1))
        .where(F.col("crnk") <= INT8_CAND)
    )
    cand = base.select("vec_id", "q1k").join(
        F.broadcast(cand_keys), "vec_id"
    ).join(
        F.broadcast(queries.select("query_id", "qa")), "query_id"
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("q1k"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", "approx_e6", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w2).cast("long"))
        .where(F.col("rnk") <= 5)
        .select(
            "query_id",
            "rnk",
            F.col("vec_id").alias("neighbor_id"),
            "d2",
            "approx_e6",
        )
        .orderBy("query_id", "rnk")
    )


CHUNK_W = 32   # tokens per chunk
CHUNK_S = 24   # stride (8-token overlap)


def q_doc_chunks(spark, sf_dir) -> DataFrame:
    """Sliding-window document chunking (round 5 — the
    RAG/pretraining chunker: fixed token window, fixed overlap).
    Pure array codegen: tokenize once, sequence() the chunk starts,
    explode, slice — no UDF, no join; rows grow by ceil(n/stride)
    per doc before one per-language aggregate.  Chunk-content
    integrity is pinned by the distinct-md5 count and summed chunk
    lengths, not just counts — a wrong slice boundary or a dropped
    overlap changes the hashes.  DuckDB twin: same window arithmetic
    via generate_series + list_slice (both engines' slice/series are
    inclusive with identical semantics here)."""
    docs = synth.raw_documents(spark, sf_dir)
    toks = F.filter(
        F.split(F.col("text"), " +"), lambda x: x != F.lit("")
    )
    out = (
        docs.select("lang", toks.alias("toks"))
        .select(
            "lang",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size("toks") - 1, F.lit(0)),
                    F.lit(CHUNK_S),
                )
            ).alias("st"),
        )
        .select(
            "lang",
            F.slice(F.col("toks"), F.col("st") + 1, CHUNK_W).alias("arr"),
        )
        .select(
            "lang",
            F.size("arr").alias("n_toks"),
            F.array_join("arr", " ").alias("chunk"),
        )
    )
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_toks").cast("long").alias("sum_chunk_tokens"),
            F.sum(F.length("chunk")).cast("long").alias("sum_chunk_chars"),
            F.countDistinct(F.md5(F.col("chunk"))).alias("n_distinct_chunks"),
        )
        .orderBy("lang")
    )


def q_inverted_index(spark, sf_dir) -> DataFrame:
    """Inverted-index / BM25-prep build (round 5 — the retrieval leg
    of a curation stack: per-term document frequency, corpus tf, the
    head of the posting list, and e6-scaled idf).  Shape at scale:
    explode → ONE (term, doc) hash aggregate (map-side partial
    combine does the heavy lifting — only distinct (term, doc) pairs
    shuffle), then a vocab-sized per-term aggregate; the posting-list
    head is a max of a (tf, -doc_id) struct so ties break to the
    LOWEST doc id deterministically on both engines — no sort, no
    window, no UDF.  idf = ln(n_docs/df) with n_docs folded in as one
    driver scalar (1-number reduction)."""
    import math as _math

    docs = synth.raw_documents(spark, sf_dir)
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " +")).alias("w")
    ).where(F.col("w") != "")
    per_doc = toks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_doc.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.max(F.struct(F.col("tf"), (-F.col("doc_id")).alias("nd"))).alias(
                "_top"
            ),
        )
        .select(
            "w",
            "df",
            "tf_total",
            F.col("_top.tf").alias("top_tf"),
            (-F.col("_top.nd")).cast("long").alias("top_doc"),
            F.round(
                (F.lit(_math.log(float(n_docs))) - F.log(F.col("df"))) * 1e6
            )
            .cast("long")
            .alias("idf_e6"),
        )
        .orderBy(F.desc("df"), F.asc("w"))
    )


def q_unigram_nll(spark, sf_dir) -> DataFrame:
    """Unigram-LM perplexity filter (round 5 — the CCNet-style
    quality gate of a training-data pipeline: score each document by
    its mean token negative-log-likelihood under a language model
    trained on the corpus itself, flag outliers).  Two relational
    passes: global unigram counts (one hash aggregate over the token
    explosion — the vocabulary, not the corpus, leaves the shuffle),
    then tokens⋈counts (AQE broadcasts the vocab-sized side) and a
    per-doc mean; ln(total) enters as ONE driver scalar (a 1-number
    reduction, same class as the raster bounds collect).  Per-doc NLL
    is e6-rounded to a bigint BEFORE the per-language aggregation, so
    the final sums are integer — order-independent across engines.
    No UDFs anywhere."""
    import math as _math

    docs = synth.raw_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), " +")).alias("w"),
    ).where(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = toks.count()
    per_doc = (
        toks.join(counts, "w")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.lit(_math.log(float(total))) - F.avg(F.log(F.col("c")))
            ).alias("nll")
        )
        .select(
            "lang",
            F.round(F.col("nll") * 1e6).cast("long").alias("nll_e6"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nll_e6").alias("sum_nll_e6"),
            F.sum(
                (F.col("nll_e6") > NLL_FLAG_E6).cast("long")
            ).alias("n_flagged"),
        )
        .orderBy("lang")
    )


def q_pii_redaction(spark, sf_dir) -> DataFrame:
    """PII scrub stage (round 5 — the redaction pass of a curation
    pipeline): deterministic email/phone/IPv4 payloads are injected
    into the word-salad corpus by ONE shared SQL text keyed on doc_id
    (functions/text.pii_inject_sql — the synth_media strategy:
    construction shared, detection independent), then each engine
    DETECTS and REDACTS with its own regex machinery (Spark
    regexp_count/regexp_replace on Java regex vs DuckDB
    regexp_extract_all/regexp_replace-'g' on RE2; patterns live in
    the engines' common subset).  Per-language counts, redacted-text
    lengths, and the distinct-redacted-fingerprint count pin the
    replacement output itself, not just the hit counts.  Pure Column
    JVM path — no UDFs."""
    docs = synth.raw_documents(spark, sf_dir)
    t2 = F.expr(text.pii_inject_sql("doc_id", "text"))
    cnts = text.pii_counts(F.col("t2"))
    red = text.pii_redact(F.col("t2"))
    return (
        docs.select("lang", t2.alias("t2"))
        .select(
            "lang",
            *[c.alias(k) for k, c in cnts.items()],
            F.length(red).alias("len_after"),
            F.md5(red).alias("fp"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("long").alias("n_emails"),
            F.sum("n_phones").cast("long").alias("n_phones"),
            F.sum("n_ips").cast("long").alias("n_ips"),
            F.sum("len_after").cast("long").alias("sum_len_after"),
            F.countDistinct("fp").alias("n_distinct_redacted"),
        )
        .orderBy("lang")
    )


def q_length_quantiles(spark, sf_dir) -> DataFrame:
    """Per-language EXACT interpolated quantiles of document length
    (round 5 — corpus length-distribution profiling, the statistic a
    curation pipeline thresholds on).  Spark's `percentile` (exact,
    sort-based — NOT percentile_approx: an approximate sketch can't be
    hash-verified) against DuckDB's quantile_cont.  Both engines
    interpolate at rank p*(n-1); with integer lengths every
    interpolation term here is exactly representable (p in quarters
    and twentieths on integer operands), so the e6-scaled outputs are
    bit-identical — the property test for that argument is the e6
    rounding itself: a single ulp of divergence would flip a hash
    mismatch at the .5 boundaries, of which integer-valued products
    have none."""
    docs = synth.raw_documents(spark, sf_dir)
    qs = (
        docs.select("lang", F.length("text").alias("len"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "percentile(len, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("q"),
        )
    )
    return qs.select(
        "lang",
        "n_docs",
        *[
            F.round(F.col("q")[i] * 1e6).cast("long").alias(name)
            for i, name in enumerate(
                ("p25_e6", "p50_e6", "p75_e6", "p95_e6")
            )
        ],
    ).orderBy("lang")


def q_token_stats(spark, sf_dir) -> DataFrame:
    """BPE-ish regex token counting + rolling-hash document
    fingerprints (training-data text analysis): per-lang token sums
    and distinct-fingerprint counts, all JVM-side Column arithmetic
    with exact integer cross-engine semantics."""
    docs = synth.raw_documents(spark, sf_dir)
    t = F.col("text")
    # project the per-char fingerprint fold ONCE — two aggregates over
    # the same expression would evaluate it twice per row
    pre = docs.select(
        "lang",
        text.bpe_token_count(t).alias("bpe"),
        text.rolling_fingerprint(t).alias("fp"),
    )
    return (
        pre.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe").alias("sum_bpe_tokens"),
            F.count_distinct(F.col("fp")).alias("n_fingerprints"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("lang")
    )


def q_dedup_exact(spark, sf_dir) -> DataFrame:
    docs = synth.raw_documents(spark, sf_dir)
    fp = docs.select(text.fingerprint(F.col("text")).alias("fp"))
    groups = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("cnt") - 1).alias("n_redundant"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_dup_groups"),
    )


def q_embedding_knn_l2(spark, sf_dir) -> DataFrame:
    """Brute-force top-5 nearest neighbours (squared L2, integer-exact
    on 1e-3-quantized embeddings) for the first 10 vectors."""
    emb = synth.read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000.0, 0).cast("long"),
        ).alias("q"),
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    # corpus is the big side at scale — broadcast the tiny query set
    pairs = emb.where(F.col("vec_id") >= 10).join(F.broadcast(queries))
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("q"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    ranked = (
        pairs.select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
    )
    return ranked.select(
        "query_id",
        # long, to match DuckDB's row_number() (bigint) in the oracle
        F.col("rnk").cast("long").alias("rnk"),
        F.col("vec_id").alias("neighbor_id"),
        "d2",
    ).orderBy("query_id", "rnk")


VECTOR_AFFINE = [[1.25, 0.0, 3.0], [0.0, 0.75, -2.0], [0.0, 0.0, 1.0]]


def q_polygon_areas(spark, sf_dir) -> DataFrame:
    """Shoelace ring metrics (round 5 — vector analytics over the long
    point table): every region triangle through the GENERAL ring
    operator (operators/vector_geom.ring_metrics — lead-paired edges,
    exact integer area2, DECIMAL(38,0) centroid numerators, one
    shuffle).  The oracle is deliberately NON-CIRCULAR: for a triangle
    the closed shoelace centroid equals the vertex mean and area2 has
    the direct two-edge cross form — DuckDB computes those
    first-principles formulas from the regenerated vertices, so an
    edge-pairing bug, a lost closing edge, or a sum-order hazard in
    the general pipeline cannot reproduce the oracle by construction."""
    from ..operators import vector_geom

    tris = synth.region_triangles(spark, sf_dir)
    long_pts = tris.selectExpr(
        "cast(region_id as string) AS geom_id",
        "0 AS part_id", "0 AS ring_id",
        "stack(3, 0, cast(x1 as double), cast(y1 as double), "
        "1, cast(x2 as double), cast(y2 as double), "
        "2, cast(x3 as double), cast(y3 as double)) AS (pt_seq, x, y)"
    )
    m = vector_geom.ring_metrics(long_pts)
    return _bounded_sort(
        m.select(
            F.col("geom_id").cast("long").alias("region_id"),
            "n_vertices",
            "area2",
            F.round(F.col("centroid_x") * 1e6).cast("long").alias("cx_e6"),
            F.round(F.col("centroid_y") * 1e6).cast("long").alias("cy_e6"),
        ),
        "region_id",
    )


def q_vector_transform(spark, sf_dir) -> DataFrame:
    """Vector-geometry pipeline through the Arrow pandas-UDF kernel
    path (SURVEY §2.4 op 27 at scale): triangle vertices → exploded
    long point table → JSON-IR model applied in a pandas UDF →
    re-nest → flatten for comparison.  The oracle recomputes the same
    affine arithmetically."""
    import json as _json

    from ..kernels import Affine
    from ..operators import udfs, vector_geom

    tris = synth.region_triangles(spark, sf_dir)
    long_pts = tris.selectExpr(
        "cast(region_id as string) AS geom_id",
        "0 AS part_id", "0 AS ring_id",
        "stack(3, 0, cast(x1 as double)/100000.0, cast(y1 as double)/100000.0, "
        "1, cast(x2 as double)/100000.0, cast(y2 as double)/100000.0, "
        "2, cast(x3 as double)/100000.0, cast(y3 as double)/100000.0) "
        "AS (pt_seq, x, y)"
    )
    model_json = _json.dumps(Affine(A=VECTOR_AFFINE).to_json())
    out = vector_geom.transform_long(long_pts, model_json)
    nested = vector_geom.renest(out)
    flat = nested.select(
        F.col("geom_id").cast("int").alias("region_id"),
        F.posexplode(F.element_at(F.element_at("parts", 1), 1)).alias("pt_seq", "pt"),
    )
    return flat.select(
        "region_id",
        "pt_seq",
        _e(F.col("pt.x"), 6).alias("x_e6"),
        _e(F.col("pt.y"), 6).alias("y_e6"),
    ).orderBy("region_id", "pt_seq")


WARP_GATE_SRC = 256          # source raster is WARP_GATE_SRC^2 px
WARP_GATE_SRC_TILE = 96
WARP_GATE_OUT_TILE = 64


@functools.cache
def warp_gate_geometry() -> dict:
    """Deterministic geometry for the warp gate query, shared with its
    DuckDB oracle (plans/oracles.warp_affine_checksums): the affine
    chain, its per-stage INVERSE matrices as literals (the oracle
    replays the same two sequential mat-vec applications the kernel
    runs — composing them into one matrix would change fp association
    and could flip an np.around'ed source index), and the output
    geometry derived exactly as kernels.warp would."""
    import math as _math

    import numpy as _np

    from ..kernels import Affine as _Affine
    from ..kernels import Chain as _Chain
    from ..kernels import warp as _kwarp

    size0 = WARP_GATE_SRC
    chain = _Chain([
        _Affine(A=[[0.9, 0, 5], [0, 1.1, -3], [0, 0, 1]]),
        _Affine(rotate=_math.radians(10)),
    ])
    bounds = _kwarp.imbounds(size0, size0, chain)
    dx, dy = bounds[2] - bounds[0], bounds[3] - bounds[1]
    s = _math.hypot(dx, dy) / _math.hypot(size0, size0)
    size = (int(dx / s), int(dy / s))
    affine = [s, 0, bounds[0], 0, -s, bounds[3]]
    inv_mats = [
        _np.linalg.inv(t.A).tolist() for t in reversed(chain.transforms)
    ]
    return dict(chain=chain, affine=affine, size=size, inv_mats=inv_mats)


def warp_gate_image():
    """(h, w, 4) uint8 gradient+checker source — integer arithmetic on
    (col, row) so the oracle regenerates every pixel relationally."""
    import numpy as _np

    size0 = WARP_GATE_SRC
    y, x = _np.mgrid[0:size0, 0:size0]
    return _np.stack(
        [
            (x * 255 // size0).astype(_np.uint8),
            (y * 255 // size0).astype(_np.uint8),
            (((x // 32 + y // 32) % 2) * 255).astype(_np.uint8),
            _np.full((size0, size0), 255, _np.uint8),
        ],
        axis=-1,
    )


def q_warp_affine_checksums(spark, sf_dir) -> DataFrame:
    """Distributed tiled raster warp (SURVEY §2.5 op 30) with a FULL
    relational oracle (round 4): the REAL warp path runs (bbox
    backpredict → source-tile pruning join → mosaic+gather,
    operators/raster.warp_tiled), then per-output-tile integer
    aggregates (per-band sums + a position-weighted mix) are computed
    FROM the warped tile bytes in pure Column code — so any flipped
    pixel anywhere breaks the hash.  The DuckDB twin re-expresses the
    nearest-neighbour gather relationally: output grid → sequential
    inverse-affine arithmetic → round-half-even → equi-join to a
    formula-regenerated source-pixel table (reference imwarp.py:88-381
    semantics; np.around == DuckDB round_even).  Bit-level md5 parity
    of tiled-vs-whole-image warp stays pinned in tests/test_warp.py."""
    import json as _json

    from ..operators import raster

    g = warp_gate_geometry()
    tiles_df = raster.image_to_tiles(
        spark, warp_gate_image(), tile=WARP_GATE_SRC_TILE
    )
    out_tiles, _aff = raster.warp_tiled(
        spark, tiles_df, (WARP_GATE_SRC, WARP_GATE_SRC),
        _json.dumps(g["chain"].to_json()), g["affine"], g["size"],
        out_tile=WARP_GATE_OUT_TILE, src_tile=WARP_GATE_SRC_TILE,
    )

    # round 6 (guide §4.1: prefer codegen over interpreted folds): the
    # per-tile byte checksums used to run as ONE F.aggregate fold over
    # sequence(0, w*h-1) with a 5-field struct accumulator — a fully
    # interpreted per-element evaluation (~3.6 s of the query's 5 s).
    # Exploding the pixel index instead makes the byte extraction and
    # the partial sums whole-stage codegen; the shuffle carries only
    # the map-side-combined per-tile partials.  Integer sums are
    # order-independent, so the values are bit-identical.
    def _byte(j):  # 1-based byte offset into the tile's RGBA bytes
        return F.conv(
            F.hex(F.substring(F.col("px"), j, F.lit(1))), 16, 10
        ).cast("long")

    p = F.col("_p")
    b0 = _byte(p * 4 + 1)
    b1 = _byte(p * 4 + 2)
    b2 = _byte(p * 4 + 3)
    b3 = _byte(p * 4 + 4)
    per_px = out_tiles.select(
        "tile_x",
        "tile_y",
        (F.col("w") * F.col("h")).cast("long").alias("n_px"),
        "px",
        F.explode(
            F.sequence(F.lit(0), F.col("w") * F.col("h") - 1)
        ).alias("_p"),
    ).select(
        "tile_x",
        "tile_y",
        "n_px",
        b0.alias("_b0"),
        b1.alias("_b1"),
        b2.alias("_b2"),
        b3.alias("_b3"),
        ((p + 1) * (b0 + b1 * 256 + b2 * 65536 + b3 * 16777216)).alias(
            "_w"
        ),
    )
    return (
        per_px.groupBy("tile_x", "tile_y", "n_px")
        .agg(
            F.sum("_b0").alias("sum_r"),
            F.sum("_b1").alias("sum_g"),
            F.sum("_b2").alias("sum_b"),
            F.sum("_b3").alias("sum_a"),
            F.sum("_w").alias("wsum"),
        )
        .select(
            "tile_x", "tile_y", "n_px",
            "sum_r", "sum_g", "sum_b", "sum_a", "wsum",
        )
        .orderBy("tile_x", "tile_y")
    )


def q_loo_residuals(spark, sf_dir) -> DataFrame:
    """Leave-one-out residuals on the china22 GCP set (SURVEY §2.3 op
    19) — n parallel refits via groupBy(held-out id).applyInPandas,
    each group running the parity kernel.  Values are golden-pinned in
    tests; fully oracled since round 4 — the DuckDB twin embeds the
    22 pre-fitted held-out coefficient rows as literals and re-runs
    predict + haversine relationally (only the fit itself is not
    SQL)."""
    import pandas as _pd

    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS

    n = len(CHINA22_IMPOINTS)
    rows = [
        (h, i, float(CHINA22_IMPOINTS[i][0]), float(CHINA22_IMPOINTS[i][1]),
         float(CHINA22_GEOPOINTS[i][0]), float(CHINA22_GEOPOINTS[i][1]))
        for h in range(n)
        for i in range(n)
    ]
    gcps = synth.literal_table(
        spark, rows,
        "held_out int, gcp_id int, sx double, sy double, dx double, dy double",
    )

    def fit_predict(pdf: _pd.DataFrame) -> _pd.DataFrame:
        from ..kernels import Polynomial
        from ..kernels.accuracy import distances

        held = int(pdf["held_out"].iloc[0])
        keep = pdf[pdf["gcp_id"] != held]
        hold = pdf[pdf["gcp_id"] == held]
        t = Polynomial(order=2).fit(
            keep["sx"].to_numpy(), keep["sy"].to_numpy(),
            keep["dx"].to_numpy(), keep["dy"].to_numpy(),
        )
        px, py = t.predict(hold["sx"].to_numpy(), hold["sy"].to_numpy())
        resid = distances(
            hold["dx"].to_numpy(), hold["dy"].to_numpy(), px, py, "geodesic"
        )
        return _pd.DataFrame({"gcp_id": [held], "resid_e6": [round(resid[0] * 1e6)]})

    # one row per GCP: the bounded single-task sort runs the refits
    # once, where orderBy's range-partition sample job would run the
    # whole applyInPandas a second time
    return _bounded_sort(
        gcps.groupBy("held_out").applyInPandas(
            fit_predict, "gcp_id int, resid_e6 long"
        ),
        "gcp_id",
    )


def q_minhash_pairs(spark, sf_dir) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over the documents corpus
    (shingle→minhash→band→bucket-join→verify).  DuckDB oracle =
    brute-force exact-Jaccard pairs (oracles.minhash_pairs; valid
    because LSH recall is exhaustively verified 100% on the gate
    data); the numpy oracle lives in tests/test_dedup_similarity.py."""
    from ..operators import dedup

    docs = synth.raw_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return dedup.minhash_lsh_pairs(docs, threshold=0.5).orderBy("id_a", "id_b")


def q_ngram_jaccard_pairs(spark, sf_dir) -> DataFrame:
    """Word-n-gram Jaccard near-dup pairs (round 4): the same
    minhash→band→bucket-join→verify plan with WORD TRIGRAMS as the
    feature set (operators/dedup.word_ngrams) — the brief's n-gram
    Jaccard dedup as a first-class gated operator.  Oracle =
    brute-force exact word-trigram Jaccard; valid because the gate
    corpus separates cleanly (every true pair has J >= 0.889, band
    hit prob > 0.999; nothing else above 0.15) and recall is
    exhaustively verified at both gate SFs."""
    from ..operators import dedup

    docs = synth.raw_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.5, shingles=dedup.word_ngrams(F.col("text"), 3)
    ).orderBy("id_a", "id_b")


def q_embedding_ivf(spark, sf_dir) -> DataFrame:
    """IVF-Flat ANN (inverted-file cells + n_probe, the second scale
    path beside sign-LSH): oracle replicates the EXACT algorithm
    (same literal centroids, same assignment/probe/re-rank), so this
    is a full hash-verified row, not a recall check."""
    from ..operators import similarity

    emb = similarity.with_unit_vec(
        synth.read_table(spark, sf_dir, "embeddings")
    )
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "unit"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    # called in the oracle's form, so one cache entry serves both
    cents = trained_ivf_centroids(n_cells=16, seed=11)
    out = similarity.ivf_topk(corpus, queries_df, cents, k=5, n_probe=2)
    return out.select(
        "query_id",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("nb_id").alias("neighbor_id"),
        _e(F.col("cos"), 4).alias("cos_e4"),
    ).orderBy("query_id", "rnk")


def q_embedding_neardup_pairs(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup pairs (sign-LSH candidates + exact
    verify).  Oracle = brute-force all pairs with cos >= 0.40 — valid
    because LSH recall is exhaustively verified 100% on the gate data
    (66 pairs at sf0.001, 59 at sf0.01; collision prob per pair
    1-(1-(1-acos(c)/pi)^2)^16 > 0.999 at c=0.40)."""
    from ..operators import similarity

    emb = similarity.with_unit_vec(
        synth.read_table(spark, sf_dir, "embeddings")
    )
    return similarity.cosine_neardup_pairs(emb, 0.40, dim=64).orderBy(
        "id_a", "id_b"
    )


def q_simhash_buckets(spark, sf_dir) -> DataFrame:
    """SimHash fingerprints + 16-bit prefix buckets over the documents
    corpus, via the md5-bit twin (operators/dedup.simhash_md5_buckets)
    so the whole shingle→votes→fingerprint→bucket pipeline carries a
    full DuckDB oracle (round-4 retirement of the last dedup
    rows-only row).  Production near-dup pairs keep the xxhash64 bit
    source (pytest-pinned); the two paths share every other step."""
    from ..operators import dedup

    docs = synth.raw_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return dedup.simhash_md5_buckets(docs).orderBy("id")


RADIUS_JOIN_KM = 800.0
RADIUS_JOIN_ZOOM = 6


def q_radius_join(spark, sf_dir) -> DataFrame:
    """Spatial RANGE join (round 4): per city center, the count of
    pipeline points within RADIUS_JOIN_KM — the unbounded distance
    predicate rewritten as a tile-cover hash equi-join + exact
    haversine refine (operators/spatial_join.radius_join_counts).
    Oracle = brute-force cross-join distance filter; agreement proves
    the cover's recall is exact."""
    from ..operators import spatial_join
    from ..sources import synthspec

    centers = [
        (i, lon, lat) for i, (lon, lat) in enumerate(synthspec.CITIES)
    ]
    pts = points_df(spark, sf_dir)
    return _bounded_sort(
        spatial_join.radius_join_counts(
            pts, centers, RADIUS_JOIN_KM, zoom=RADIUS_JOIN_ZOOM
        ),
        "center_id",
    )


def q_events_asof_join(spark, sf_dir) -> DataFrame:
    """As-of (backward) temporal join (round 4): every click event
    gains the latest view at-or-before it by the same user
    (operators/temporal.asof_join_backward — one shuffle, window
    pass).  Oracle = DuckDB's native ASOF LEFT JOIN.  Gap surfaces
    in whole seconds; clicks with no prior view map to -1."""
    from ..operators import temporal

    ev = synth.read_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts")
    )
    out = temporal.asof_join_backward(
        clicks, views, "user_id", "ts", {"view_ts": "view_ts"}
    )
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.col("ts").cast("long") - F.col("view_ts").cast("long"),
            F.lit(-1),
        ).cast("long").alias("gap_s"),
    ).orderBy("event_id")


CURATION_QUALITY_MIN = 4.6


def q_curation_funnel(spark, sf_dir) -> DataFrame:
    """End-to-end training-data CURATION FUNNEL (round 4) — the
    composite a real LLM-data pipeline runs, as ONE aggregation row:
    exact dedup (keep min doc_id per md5 fingerprint) → near-dup
    clustering on the survivors (MinHash-LSH pairs → connected
    components, keep each component's rep) → quality floor.  Every
    doc is tagged with the stage that dropped it and the funnel
    counts come from a single groupless aggregate (no scalar joins).
    Oracle replays the funnel in SQL with a recursive-CTE closure."""
    from ..functions import text as T
    from ..operators import dedup

    docs = synth.raw_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    # round 6: materialize the fingerprint+rank stage once — it feeds
    # both the survivors->LSH->components leg and the final funnel
    # join, which otherwise re-run the scan+md5+window pipeline
    staged = (
        docs.withColumn("fp", T.fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
    ).localCheckpoint(eager=True)
    # AQE rightly coalesces the gate corpus's window shuffle to ONE
    # partition, and the checkpoint freezes that layout — the
    # downstream MinHash stage (the funnel's heaviest per-row math)
    # would then run single-task (measured 5.5s serial vs 0.6s spread
    # at sf0.1).  Round 6: instead of a SECOND checkpoint of the
    # re-spread table, fold the re-spread into the MinHash stage's own
    # materialization job — only the survivors feeding the per-row
    # shingle/minhash math need the exchange; the funnel agg over
    # `staged` itself is a trivial narrow pass at any layout.  At
    # cluster scale the materialized layout keeps >= core-count
    # partitions and this is a no-op.
    par = spark.sparkContext.defaultParallelism
    survivors = staged.where(F.col("rn") == 1).select("doc_id", "text")
    if staged.rdd.getNumPartitions() < par:
        survivors = survivors.repartition(2 * par, "doc_id")
    pairs = dedup.minhash_lsh_pairs(survivors, threshold=0.5)
    nd = (
        dedup.connected_components(pairs)
        .where(F.col("id") != F.col("comp"))
        .select(F.col("id").alias("doc_id"), F.lit(True).alias("is_nd"))
    )
    q = T.quality_score(F.col("text"))
    full = (
        staged.join(nd, "doc_id", "left")
        .withColumn("is_nd", F.coalesce(F.col("is_nd"), F.lit(False)))
        .withColumn("q", q)
    )
    keep = (
        (F.col("rn") == 1)
        & ~F.col("is_nd")
        & (F.col("q") >= CURATION_QUALITY_MIN)
    )
    return full.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_exact_dup"),
        F.sum(
            F.when((F.col("rn") == 1) & F.col("is_nd"), 1).otherwise(0)
        ).alias("n_near_dup"),
        F.sum(
            F.when(
                (F.col("rn") == 1)
                & ~F.col("is_nd")
                & (F.col("q") < CURATION_QUALITY_MIN),
                1,
            ).otherwise(0)
        ).alias("n_low_quality"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        _e(F.avg(F.when(keep, F.col("q"))), 2).alias("avg_q_kept_e2"),
    )


def q_neardup_components(spark, sf_dir) -> DataFrame:
    """Near-duplicate CLUSTERING (round 4): MinHash-LSH pairs →
    distributed connected components (lane-local union-find +
    large-star/small-star, operators/dedup.connected_components) → one
    row per keep-one group.  The oracle recomputes components over the brute-force
    exact-Jaccard pair set with a DuckDB recursive CTE — valid by the
    same exhaustively-verified-recall argument as minhash_pairs."""
    from ..operators import dedup

    docs = synth.raw_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return dedup.neardup_component_summary(docs, threshold=0.5).orderBy("comp")


def q_streaming_window_counts(spark, sf_dir) -> DataFrame:
    """Structured Streaming through the driver gate (round 4):
    readStream over the events parquet → watermark → event-time
    window/event_type aggregation → AvailableNow drain to a memory
    sink.  Complete-mode final state equals the batch aggregation,
    so the oracle is plain SQL over the same rows."""
    from ..streaming import stream

    return stream.streaming_event_window_counts(
        spark, f"{sf_dir}/events.parquet"
    ).orderBy("win_start_s", "event_type")


def q_media_features(spark, sf_dir) -> DataFrame:
    """Multimodal decode → feature extract with a FULL oracle (round
    4): image payloads are real uncompressed-TIFF containers and audio
    payloads real PCM-WAV containers, both built Column-side from
    integer arithmetic on doc_num (operators/multimodal.synth_media),
    decoded by the TRUE pure-stdlib codecs (kernels/{tiff,wav}.py)
    inside mapInPandas, pooled to features.  The DuckDB twin
    recomputes the decoded pixel/sample values arithmetically —
    agreement validates container build + codec + pooling end-to-end.
    Video is covered by q_media_frames, fully oracled since round 5
    via the real RIFF/AVI decode path (kernels/avi.py)."""
    from ..operators import multimodal

    docs = synth.docs_spans(spark, sf_dir).where(
        (F.col("doc_num") % 97 == 0) & (F.col("doc_num") % 3 < 2)
    )
    media = multimodal.synth_media(spark, docs)
    feats = multimodal.extract_features(media, feature_dim=8)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
            _e(F.avg(F.element_at("feature", 1)), 2).alias("avg_f0_e2"),
        )
        .orderBy("kind")
    )


def q_media_frames(spark, sf_dir) -> DataFrame:
    """Video frame sampling with a FULL oracle (round 5): video
    payloads are real uncompressed-DIB AVI containers built
    Column-side from integer arithmetic on doc_num
    (operators/multimodal.synth_media), decoded by the TRUE RIFF/AVI
    walker (kernels/avi.py) inside mapInPandas; every 4th frame emits
    arithmetic fingerprints of the decoded top-down RGB bytes.  The
    DuckDB twin recomputes px_sum and the position-weighted pos_dot
    directly from the synth formula plus the documented bottom-up-BGR
    → top-down-RGB byte mapping — agreement validates container
    build + chunk walk + de-interleave end-to-end."""
    from ..operators import multimodal

    docs = synth.docs_spans(spark, sf_dir).where(
        (F.col("doc_num") % 97 == 0) & (F.col("doc_num") % 3 == 2)
    )
    media = multimodal.synth_media(spark, docs)
    return (
        multimodal.sample_frames(media, every_k=4)
        .select("media_id", "frame_idx", "px_sum", "pos_dot")
        .orderBy("media_id", "frame_idx")
    )


def q_embedding_ann_lsh(spark, sf_dir) -> DataFrame:
    """Scale-path ANN: multi-table sign-LSH bucket join + exact
    re-rank.  Fully oracled since round 2: the DuckDB twin replays the
    EXACT algorithm with the same literal hyperplanes (oracles.py), so
    the driver checks rows+schema+hash; recall vs brute force is
    additionally asserted in tests."""
    from ..operators import similarity

    emb = similarity.with_unit_vec(
        synth.read_table(spark, sf_dir, "embeddings")
    )
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "unit"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    out = similarity.lsh_topk(
        corpus, queries_df, k=5, n_planes=4, n_tables=4, dim=64
    )
    return out.select(
        "query_id",
        # long, to match DuckDB's row_number() (bigint) in the oracle
        F.col("rnk").cast("long").alias("rnk"),
        F.col("nb_id").alias("neighbor_id"),
        _e(F.col("cos"), 4).alias("cos_e4"),
    ).orderBy("query_id", "rnk")


# literal order-2 matrix for the Column-expression transform path
# (small high-order coefficients keep outputs bounded on ±180 inputs)
POLY2_A = [
    [1e-05, -2e-05, 1.5e-05, 0.9, 0.05, 3.0],
    [-1e-05, 2.5e-05, -5e-06, 0.04, 0.95, -2.0],
    [0.0, 0.0, 0.0, 0.0, 0.0, 1.0],
]


def q_poly2_transform(spark, sf_dir) -> DataFrame:
    """Order-2 polynomial transform as PURE Column arithmetic (SURVEY
    op 11's preferred physical form — whole-stage codegen, no Python):
    identical fp expression tree in the DuckDB oracle, so aggregates
    match to the last ulp before e-scaling."""
    pts = points_df(spark, sf_dir)
    px, py = geo.polynomial_predict(POLY2_A, 2, F.col("lon"), F.col("lat"))
    out = pts.select(px.alias("px"), py.alias("py"))
    return out.agg(
        F.count(F.lit(1)).alias("n_points"),
        _e(F.sum("px"), 4).alias("sum_px_e4"),
        _e(F.sum("py"), 4).alias("sum_py_e4"),
        _e(F.min("px"), 6).alias("min_px_e6"),
        _e(F.max("py"), 6).alias("max_py_e6"),
    )


# literal homography for the Column-expression projective path
# (SURVEY op 9): near-identity with small perspective terms so the
# denominator stays ~1 on +/-180 x +/-85 inputs
PROJECTIVE_H = [
    [0.95, 0.04, 3.0],
    [-0.03, 1.05, -2.0],
    [1e-05, -2e-05, 1.0],
]


def q_projective_transform(spark, sf_dir) -> DataFrame:
    """Homography transform (SURVEY op 9 — Projective, absent/stub in
    the reference, required by BASELINE) as PURE Column arithmetic:
    identical fp expression tree in the DuckDB oracle, so aggregates
    match exactly (same pattern as q_poly2_transform)."""
    pts = points_df(spark, sf_dir)
    px, py = geo.projective_predict(PROJECTIVE_H, F.col("lon"), F.col("lat"))
    out = pts.select(px.alias("px"), py.alias("py"))
    return out.agg(
        F.count(F.lit(1)).alias("n_points"),
        _e(F.sum("px"), 4).alias("sum_px_e4"),
        _e(F.sum("py"), 4).alias("sum_py_e4"),
        _e(F.min("px"), 6).alias("min_px_e6"),
        _e(F.max("py"), 6).alias("max_py_e6"),
    )


def _projected_cells(out: DataFrame, cell: float) -> DataFrame:
    """Per (cell_x, cell_y) counts and meter-rounded coordinate sums
    of projected ``mx``/``my`` points, ordered by cell."""
    return (
        out.select(
            F.floor(F.col("mx") / cell).alias("cell_x"),
            F.floor(F.col("my") / cell).alias("cell_y"),
            F.round(F.col("mx"), 0).cast("long").alias("mx_m"),
            F.round(F.col("my"), 0).cast("long").alias("my_m"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("mx_m").alias("sum_mx_m"),
            F.sum("my_m").alias("sum_my_m"),
        )
        .orderBy("cell_x", "cell_y")
    )


def _compiled_projection_cells(spark, sf_dir, crs: str, cell: float) -> DataFrame:
    """``_projected_cells`` of the points projected EPSG:4326 ->
    ``crs`` by the Chain->Column compiler."""
    from ..kernels import Chain, MapProjection
    from ..operators import compiler

    out = compiler.with_transformed_columns(
        points_df(spark, sf_dir),
        Chain([MapProjection("EPSG:4326", crs)]),
        x="lon", y="lat", out_x="mx", out_y="my",
    )
    return _projected_cells(out, cell)


def q_mercator_cells(spark, sf_dir) -> DataFrame:
    """MapProjection (SURVEY op 14, reference transforms.py:536-587)
    end-to-end: extracted lon/lat points → EPSG:4326→3857 via the
    Chain→Column COMPILER (operators/compiler.py — whole-stage
    codegen, zero Python on this fully-analytic chain; the pandas-UDF
    kernel route stays driver-covered by tin_transform/poly_roundtrip)
    → 2000-km web-mercator cell counts with meter-rounded coordinate
    sums.  Per-point integer rounding before the sum keeps the
    cross-engine hash ulp-safe."""
    return _compiled_projection_cells(spark, sf_dir, "EPSG:3857", 2_000_000.0)


def q_mollweide_cells(spark, sf_dir) -> DataFrame:
    """World-projection op (SURVEY op 14; reference
    tests/test_image_projections.py:27-29 exercises Mollweide
    ESRI:54009): lon/lat points → Mollweide meters via the
    Chain→Column compiler — the Newton theta-solve runs as an
    F.aggregate fold (kernels/projections.py MOLL_NEWTON_ITERS fixed
    steps), so the whole projection is whole-stage codegen with a
    LINEAR-size expression tree.  Same cell-count/sum observables as
    mercator_cells; the DuckDB oracle replicates the identical fold
    via list_reduce."""
    return _compiled_projection_cells(spark, sf_dir, "ESRI:54009", 2_000_000.0)


def q_polar_cells(spark, sf_dir) -> DataFrame:
    """Ellipsoidal polar stereographic (EPSG:3031, SURVEY op 14 /
    reference tests/test_image_projections.py:39-41) end-to-end via
    the Chain→Column compiler: EPSG GN7-2 variant-B arithmetic in
    whole-stage codegen, same cell/sum observables as
    mercator_cells/mollweide_cells (5,000-km cells — south-aspect
    rho spans ~300M m at lat +85)."""
    return _compiled_projection_cells(spark, sf_dir, "EPSG:3031", 5_000_000.0)


def q_robinson_cells(spark, sf_dir) -> DataFrame:
    """Robinson (ESRI:54030, the reference's README MapProjection
    doctest projection) via the Chain→Column compiler: the
    natural-cubic-spline table lookup runs as element_at into literal
    arrays, all whole-stage codegen.  Same observables as the other
    projection gate queries (2,000-km cells)."""
    return _compiled_projection_cells(spark, sf_dir, "ESRI:54030", 2_000_000.0)


def q_utm_cells(spark, sf_dir) -> DataFrame:
    """Transverse Mercator / UTM (round 5 — SURVEY op 14's next CRS
    family; the reference accepts any pyproj CRS incl. all 120
    EPSG:326xx/327xx codes, reference transforms.py:536-544): every
    extracted point is assigned its OWN UTM zone (+south false
    northing below the equator) and projected by the Krüger n^4
    series (kernels/projections.py transverse_mercator_forward).

    Physical plan: the per-zone central meridian is just a column, so
    the whole projection — conformal latitude, Gauss-Schreiber, the
    four series terms — runs as F.expr stages over the SHARED
    dialect-portable text from functions/geo.tm_forward_stages; pure
    whole-stage codegen, zero Python, no shuffle before the final
    cell aggregate.  The DuckDB oracle replays the identical stage
    text as a CTE chain; per-point meter rounding absorbs libm ulp
    noise.  Observables: per (zone, hemisphere, 1000-km northing
    cell) counts and meter-rounded coordinate sums."""
    from ..functions.geo import (
        UTM_FN_SQL, UTM_LON0_SQL, UTM_ZONE_SQL, tm_forward_stages,
    )

    out = points_df(spark, sf_dir).withColumn("zone", F.expr(UTM_ZONE_SQL))
    out = out.withColumns(
        {"lon0v": F.expr(UTM_LON0_SQL), "fnv": F.expr(UTM_FN_SQL)}
    )
    stages, E_sql, N_sql = tm_forward_stages()
    for name, expr in stages:
        out = out.withColumn(name, F.expr(expr))
    out = out.withColumns({"mx": F.expr(E_sql), "my": F.expr(N_sql)})
    return (
        out.select(
            "zone",
            F.when(F.col("lat") < 0.0, F.lit("S")).otherwise(F.lit("N")).alias("hemi"),
            F.floor(F.col("my") / 1_000_000.0).alias("cell_n"),
            F.round(F.col("mx"), 0).cast("long").alias("mx_m"),
            F.round(F.col("my"), 0).cast("long").alias("my_m"),
        )
        .groupBy("zone", "hemi", "cell_n")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("mx_m").alias("sum_mx_m"),
            F.sum("my_m").alias("sum_my_m"),
        )
        .orderBy("zone", "hemi", "cell_n")
    )


def q_lcc_cells(spark, sf_dir) -> DataFrame:
    """Lambert Conformal Conic 2SP (round 5 — SURVEY op 14's conic
    family; EPSG:3034 ETRS89/LCC-Europe published parameters): every
    extracted point projected by the Snyder §15 / EPSG 9802 math.

    Physical plan: the cone constants (n, a·F, rho0) come from the
    SAME kernel helper the numpy path uses, embedded as literals; the
    per-point isometric-latitude/rho/theta arithmetic is ONE shared
    SQL text (functions/geo.lcc_forward_sql) run as F.expr here and
    verbatim in the DuckDB oracle — pure whole-stage codegen, zero
    Python, no shuffle before the final cell aggregate.  Observables:
    1000-km-cell counts + meter-rounded coordinate sums."""
    from ..functions.geo import lcc_forward_sql

    mx_sql, my_sql = lcc_forward_sql(
        "lon", "lat", 35.0, 65.0, 52.0, lon0=10.0,
        fe=4_000_000.0, fn=2_800_000.0,
    )
    out = points_df(spark, sf_dir).withColumns(
        {"mx": F.expr(mx_sql), "my": F.expr(my_sql)}
    )
    return _projected_cells(out, 1_000_000.0)


def q_decontamination(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination (round 5 — the standard pre-training
    pass): documents sharing any word trigram with the deterministic
    'benchmark' subset (doc_id % 41 == 0) are flagged with their
    distinct-overlap count (operators/decontam.ngram_overlap —
    eval n-gram set broadcast, corpus side explode + broadcast hash
    join, zero corpus-sized shuffles before the per-doc count).  The
    DuckDB oracle replays the same shingling (the ngram_jaccard
    fragment) and join."""
    from ..operators.decontam import ngram_overlap
    from ..sources import synth

    docs = synth.raw_documents(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 41 == 0)
    corpus = docs.where(F.col("doc_id") % 41 != 0)
    return (
        ngram_overlap(corpus, ev, n=3)
        .orderBy("doc_id")
        .select("doc_id", "n_overlap")
    )


def q_repetition_scores(spark, sf_dir) -> DataFrame:
    """Gopher-style repetition quality signal (round 5): repeated
    word-trigram fraction per document, aggregated per language —
    pure Column arithmetic over the shared n-gram builder, identical
    formula in the DuckDB twin."""
    from ..functions.text import repetition_ratio
    from ..sources import synth

    docs = synth.raw_documents(spark, sf_dir).withColumn(
        "rep", repetition_ratio(F.col("text"), 3)
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep") * 1e6, 0).cast("long").alias("avg_rep_e6"),
            F.round(F.max("rep") * 1e6, 0).cast("long").alias("max_rep_e6"),
            F.sum(
                F.when(F.col("rep") > 0.2, 1).otherwise(0)
            ).cast("long").alias("n_repetitive"),
        )
        .orderBy("lang")
    )


#: sessionization gate gap (shared with the oracle)
SESSION_GAP_S = 1800


def q_event_sessions(spark, sf_dir) -> DataFrame:
    """Gap-based sessionization (round 5 — clickstream/telemetry
    primitive Spark lacks as a batch API): events of a user belong to
    one session while consecutive gaps stay <= 30 min
    (operators/temporal.sessionize — ONE shuffle on user_id, two
    window passes over each sorted run; integer-microsecond boundary
    decision so the session numbering is engine-exact).  The DuckDB
    oracle replays the identical lag -> boundary-flag -> running-sum
    pipeline as SQL window functions.  Observables: per-user session
    count, event count, largest-session size, and summed session
    duration (whole µs)."""
    from ..operators.temporal import sessionize

    ev = synth.read_table(spark, sf_dir, "events")
    sess = sessionize(ev, gap_seconds=SESSION_GAP_S)
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.max("n_ev").alias("max_session_events"),
            F.sum("dur_us").cast("long").alias("sum_duration_us"),
        )
        .orderBy("user_id")
    )


#: interval-overlap gate parameters (shared with the oracle):
#: 48 deterministic maintenance windows over January 2024 — start at
#: epoch(2024-01-01) + k*15 h, length 3 + (7k mod 20) hours — and a
#: 6-hour cover bucket
WINDOW_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
WINDOW_COUNT = 48
WINDOW_STEP_US = 15 * 3_600_000_000
WINDOW_LEN_US = "(3 + (7 * k) % 20) * 3600000000"
OVERLAP_BUCKET_US = 6 * 3_600_000_000


def q_session_window_overlap(spark, sf_dir) -> DataFrame:
    """Interval-overlap join (round 5): gap-based sessions (the
    sessionize operator's [first_event, last_event + 1µs) intervals)
    × 48 formula-generated maintenance windows, via the bucketed
    grid join (operators/temporal.interval_overlap_join — explode to
    6-hour buckets, equi-join, report-at-first-common-bucket dedup, NO
    distinct shuffle, NO cross join).  Observables per window: number
    of overlapping sessions and the summed exact overlap duration
    (integer µs) — wrong dedup double-counts, wrong bucket math drops
    pairs, wrong overlap arithmetic shifts the sum.  The DuckDB twin
    is the plain quadratic inequality join over the same session CTE."""
    from ..operators.temporal import interval_overlap_join, sessionize

    ev = synth.read_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev, gap_seconds=SESSION_GAP_S)
        .groupBy("user_id", "session_idx")
        .agg(
            F.unix_micros(F.min("ts")).alias("l_start_us"),
            (F.unix_micros(F.max("ts")) + 1).alias("l_end_us"),
        )
    )
    wins = spark.range(WINDOW_COUNT).select(
        F.col("id").cast("long").alias("window_id"),
        (F.lit(WINDOW_T0_US) + F.col("id") * WINDOW_STEP_US)
        .alias("r_start_us"),
        (
            F.lit(WINDOW_T0_US)
            + F.col("id") * WINDOW_STEP_US
            + F.expr(WINDOW_LEN_US.replace("k", "id"))
        ).alias("r_end_us"),
    )
    joined = interval_overlap_join(sess, wins, OVERLAP_BUCKET_US)
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(
                F.least(F.col("l_end_us"), F.col("r_end_us"))
                - F.greatest(F.col("l_start_us"), F.col("r_start_us"))
            ).cast("long").alias("sum_overlap_us"),
        )
        .orderBy("window_id")
    )


#: packing gate parameters (shared with the oracle)
PACK_CAPACITY = 512
#: stratified-sample gate rates (shared with the oracle)
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "es": 0.75, "fr": 0.125, "zh": 1.0}


def q_sequence_packing(spark, sf_dir) -> DataFrame:
    """Concatenate-and-chunk sequence packing (round 5 — LLM
    training-batch construction): every document gets its global
    token offset, training-sequence bin, and intra-bin offset via the
    TWO-LEVEL distributed prefix sum in operators/packing.py (coarse
    monotone ranges -> n_ranges-scalar offset collect -> per-range
    window), so no executor ever holds the global order.  The DuckDB
    oracle replays the arithmetic as ONE sequential global window —
    hash agreement proves the distributed decomposition equals the
    sequential prefix sum exactly.  Observables: per-bin doc counts,
    token sums, offset sums, and doc-id span."""
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences
    from ..sources import synth

    docs = synth.raw_documents(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(docs, capacity=PACK_CAPACITY)
    return (
        packed.groupBy(F.col("seq_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("seq_offset").cast("long").alias("sum_offsets"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_bin")
    )


def q_stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic stratified sampling (round 5 — corpus
    rebalancing): per-language keep decision from an md5-derived
    uniform (repartition-invariant, no RNG state; Spark's .sample is
    neither), pure narrow Column pipeline.  The oracle recomputes the
    identical md5-digit arithmetic in DuckDB, so the driver verifies
    the SAMPLED SET (per-stratum counts + doc-id checksums), not just
    sizes."""
    from ..operators.sampling import stratified_sample
    from ..sources import synth

    docs = synth.raw_documents(spark, sf_dir)
    kept = stratified_sample(docs, SAMPLE_RATES)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


def q_laea_cells(spark, sf_dir) -> DataFrame:
    """Lambert azimuthal equal-area (round 5 — SURVEY op 14's
    azimuthal family; EPSG:3035, the EU standard statistics grid):
    every extracted point projected by the Snyder §24 / EPSG 9820
    math — center constants from the SAME kernel helper as literals,
    per-point arithmetic ONE shared SQL text
    (functions/geo.laea_forward_sql) run as F.expr here and verbatim
    in the DuckDB oracle.  Pure whole-stage codegen, no shuffle
    before the cell aggregate; 1000-km cells + meter-rounded sums."""
    from ..functions.geo import laea_forward_sql

    mx_sql, my_sql = laea_forward_sql(
        "lon", "lat", 52.0, lon0=10.0, fe=4_321_000.0, fn=3_210_000.0
    )
    out = points_df(spark, sf_dir).withColumns(
        {"mx": F.expr(mx_sql), "my": F.expr(my_sql)}
    )
    return _projected_cells(out, 1_000_000.0)


def q_ease_cells(spark, sf_dir) -> DataFrame:
    """EASE-Grid 2.0 cell assignment (round 5 — SURVEY op 14's
    equal-area-grid leg; EPSG:6933, the NSIDC satellite-product grid):
    every extracted point projected by the ellipsoidal cylindrical
    equal-area forward (Snyder §10 / EPSG 9835) — closed form in BOTH
    coordinates, so the whole projection is ONE shared SQL text
    (functions/geo.cea_forward_sql) run as F.expr here and verbatim in
    the DuckDB oracle.  Pure whole-stage codegen, no shuffle before
    the cell aggregate; 1000-km cells + meter-rounded sums."""
    from ..functions.geo import cea_forward_sql

    mx_sql, my_sql = cea_forward_sql("lon", "lat", 30.0)
    out = points_df(spark, sf_dir).withColumns(
        {"mx": F.expr(mx_sql), "my": F.expr(my_sql)}
    )
    return _projected_cells(out, 1_000_000.0)


ZONAL_SX = 360.0 / WARP_GATE_SRC
ZONAL_SY = -170.0 / WARP_GATE_SRC


def q_zonal_stats(spark, sf_dir) -> DataFrame:
    """Zonal statistics (round 5): per-region pixel count + band sums
    over the formula raster, georeferenced north-up across the full
    lon/lat domain so every one of the 25 region boxes receives
    pixels.  The REAL raster path runs (tile DataFrame → broadcast
    bbox-overlap pruning join → per-tile JVM fold over the actual tile
    BYTES, operators/raster.zonal_stats); the DuckDB twin regenerates
    every pixel relationally from the integer gradient+checker formula
    (the same regeneration the warp oracle uses) and replays the
    pixel-center containment join — so a wrong byte, a mis-assigned
    pixel, or an off-by-half-pixel center breaks the hash."""
    from ..operators import raster
    from ..sources import synth

    tiles_df = raster.image_to_tiles(
        spark, warp_gate_image(), tile=WARP_GATE_SRC_TILE
    )
    boxes = synth.region_boxes(spark, sf_dir)
    out = raster.zonal_stats(
        tiles_df, boxes, ZONAL_SX, ZONAL_SY, -180.0, 85.0
    )
    return out.select(
        F.col("region_id").cast("long").alias("region_id"),
        "n_pixels", "sum_r", "sum_g", "sum_b",
    )


def q_raster_histogram(spark, sf_dir) -> DataFrame:
    """Exact per-band raster histogram (round 5 — the contrast-
    stretch/equalization primitive): one JVM pass over the tile
    bytes, map-side partial aggregation collapses to <= 4*256 keys
    before the single shuffle (operators/raster.band_histogram).
    The DuckDB twin regenerates every pixel from the integer
    gradient+checker formula (the zonal_stats/warp regeneration) and
    re-counts — a wrong byte offset or a band swap flips the hash."""
    from ..operators import raster

    tiles_df = raster.image_to_tiles(
        spark, warp_gate_image(), tile=WARP_GATE_SRC_TILE
    )
    return raster.band_histogram(tiles_df).orderBy("band", "value")


def q_idw_surface(spark, sf_dir) -> DataFrame:
    """Inverse-distance-weighted interpolation surface (round 5 — the
    gridding/interpolation primitive adjacent to the reference's TIN:
    predict a value anywhere from scattered control points, Shepard
    1968): every extracted point gets the IDW of the china22 GCPs'
    pixel-x values (R=6367 haversine weights, the reference's distance
    convention), aggregated to zoom-5 tiles.  The 22 control points
    are ONE literal expression (functions/geo.idw_sql) — zero joins,
    pure codegen, constant-folded broadcast — run as F.expr here and
    verbatim in the DuckDB oracle (the literal-centers algorithmic-
    oracle pattern the IVF/LSH queries established)."""
    from ..functions import tiles
    from ..functions.geo import idw_sql
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS

    expr = idw_sql(
        "lon", "lat",
        [(p[0], p[1]) for p in CHINA22_GEOPOINTS],
        [float(p[0]) for p in CHINA22_IMPOINTS],
    )
    pts = points_df(spark, sf_dir)
    tx, ty = tiles.tile_xy(F.col("lon"), F.col("lat"), 5)
    return (
        pts.select(
            tx.alias("tx"), ty.alias("ty"),
            F.round(F.expr(expr) * 1e6).cast("long").alias("v_e6"),
        )
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("v_e6").alias("sum_v_e6"),
        )
        .orderBy("tx", "ty")
    )


#: trajectory gate parameter (shared with the oracle): points fold
#: into this many deterministic tracks (doc_num % N_TRACKS)
N_TRACKS = 256

#: grid-DBSCAN gate parameters (shared with the oracle)
DBSCAN_ZOOM = 8
DBSCAN_MIN_PTS = 3

#: geohash gate parameter (shared with the oracle)
GEOHASH_PRECISION = 5

#: great-circle waypoint gate parameters (shared with the oracle)
WAYPOINT_FRACTIONS = (0.25, 0.5, 0.75)
WAYPOINT_ZOOM = 5


def q_gc_waypoints(spark, sf_dir) -> DataFrame:
    """Great-circle route densification (round 5): each doc's
    primary→secondary span pair interpolated at f = ¼, ½, ¾ along the
    geodesic (functions/geo.gc_interpolate_sql — spherical slerp as
    ONE shared expression text per coordinate, degenerate
    coincident-point pairs short-circuited by CASE), waypoints
    aggregated to zoom-5 tiles per fraction.  Narrow plan: row-local
    pair extraction (no self-join), a 3-way explode, pure codegen
    slerp, one groupBy — the only shuffle.  The DuckDB twin runs the
    VERBATIM texts over the formula-derived pair CTE; the e4 snap
    inside tile_xy is the only continuous→discrete edge, and the
    per-waypoint drift-vs-margin property is pinned in
    tests/test_spark_operators.py."""
    # round 6: numeric span-pair fastpath (no media_ref render+parse;
    # pinned row-equal in tests/test_extract_fastpath.py)
    pairs = synth.span_pair_points_numeric(
        spark, sf_dir, extract.px2geo_affine()
    )
    # round 6: staged slerp — same math as gc_interpolate_sql (the
    # oracle keeps the verbatim inline text), with d/a/b/x/y/z
    # materialized once per row instead of re-evaluated per textual
    # occurrence; bit-equality with the inline form is pinned in
    # tests/test_extract_fastpath.py
    stages, glon, glat = geo.gc_interpolate_stages(
        "lon0", "lat0", "lon1", "lat1", "fv"
    )
    way = pairs.withColumn(
        "fv", F.explode(F.array(*[F.lit(f) for f in WAYPOINT_FRACTIONS]))
    )
    for name, expr in stages:
        way = way.withColumn(name, F.expr(expr))
    way = way.select(
        F.round(F.col("fv") * 4).cast("long").alias("fq"),
        F.expr(glon).alias("wlon"),
        F.expr(glat).alias("wlat"),
    )
    tx, ty = tiles.tile_xy(F.col("wlon"), F.col("wlat"), WAYPOINT_ZOOM)
    return (
        way.select("fq", tx.alias("tx"), ty.alias("ty"))
        .groupBy("fq", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("fq", "tx", "ty")
    )


def q_geohash_counts(spark, sf_dir) -> DataFrame:
    """Geohash hot-cell ranking (round 5 — the PUBLISHED base-32 cell
    encoding, Niemeyer 2008, for joining against external geo data;
    the interoperable sibling of the engine-native Morton cells):
    every extracted point encoded at precision 5 via
    functions/tiles.geohash — e4-lattice integer bin math + Morton
    magic-mask interleave + base-32 lookup, pure Column codegen, no
    UDF — then count per cell, top 100.  The DuckDB oracle runs the
    *independently written* SQL-text twin (tiles.geohash_sql), and
    both are pinned against an iterative-bisection third
    implementation + published test vectors in
    tests/test_spark_operators.py."""
    # round 6 (§2.3 shuffle keys, not payloads): group/rank on the
    # geohash INTEGER and render the base-32 string only for the 100
    # surviving rows.  GEOHASH_B32 is ASCII-ascending (pinned in
    # tests), so fixed-precision geohash strings order exactly like
    # their integers and (n desc, gh asc) == (n desc, val asc);
    # the rendered output is identical string-for-string.
    pts = points_df(spark, sf_dir)
    return (
        pts.select(
            tiles.geohash_val(
                F.col("lon"), F.col("lat"), GEOHASH_PRECISION
            ).alias("ghv")
        )
        .groupBy("ghv")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.desc("n_points"), F.asc("ghv"))
        .limit(100)
        .select(
            tiles.geohash_from_val(F.col("ghv"), GEOHASH_PRECISION).alias(
                "gh"
            ),
            "n_points",
        )
    )


def q_grid_dbscan(spark, sf_dir) -> DataFrame:
    """Grid-based density clustering (round 5 — the DBSCAN family
    primitive, grid formulation): zoom-8 tile counts; cells with >= 3
    points are core; clusters are 8-connected components of core
    cells (operators/grid.grid_dbscan — neighbor spread ×4 forward
    offsets → ONE equi-join on (tx,ty) for edges, then
    dedup.connected_components with cell-block union-find lanes; no
    all-pairs stage).  Observables
    per cluster: cell/point counts + bbox — a wrong offset splits or
    fuses clusters, a closure bug under-merges.  The DuckDB twin
    replays edges relationally and closes them with WITH RECURSIVE
    min-label reachability (the neardup_components oracle pattern)."""
    from ..functions import tiles
    from ..operators.grid import grid_dbscan

    pts = points_df(spark, sf_dir)
    tx, ty = tiles.tile_xy(F.col("lon"), F.col("lat"), DBSCAN_ZOOM)
    counts = (
        pts.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid_dbscan(counts, DBSCAN_MIN_PTS, width=1 << DBSCAN_ZOOM)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_points").cast("long").alias("n_points"),
            F.col("tx_min").cast("long").alias("tx_min"),
            F.col("tx_max").cast("long").alias("tx_max"),
            F.col("ty_min").cast("long").alias("ty_min"),
            F.col("ty_max").cast("long").alias("ty_max"),
        )
        .orderBy("cluster_id")
    )


def q_trajectory_stats(spark, sf_dir) -> DataFrame:
    """Per-track compass-sector step statistics (round 5 — the
    GPS/AIS trajectory primitive: consecutive-point hop distance +
    initial great-circle bearing, the sequence layer above the
    reference's pairwise distance, accuracy.py:9-41): extracted
    points fold into 256 deterministic tracks (doc_num % 256) ordered
    by (doc_num, span_pos); operators/trajectory.track_steps pairs
    each point with its predecessor via ONE window lag (single
    shuffle on track_id, no self-join), computes the integer-meter
    haversine hop and the bearing's 45° compass octant, and
    trajectory_sector_stats aggregates hops/path/longest per
    (track, sector).  Distance discretizes to meters BEFORE summing
    and bearing reaches the observable only through its octant, so
    libm-vs-JVM trig ulps cannot move a value (margins verified in
    tests/test_spark_operators.py).  The DuckDB twin replays the
    identical lag window over the same shared expression text."""
    from ..operators.trajectory import trajectory_sector_stats

    pts = points_df(spark, sf_dir).withColumn(
        "track_id", (F.col("doc_num") % N_TRACKS).cast("long")
    )
    return (
        trajectory_sector_stats(pts)
        .select(
            "track_id",
            F.col("sector").cast("long").alias("sector"),
            "n_steps",
            F.col("path_m").cast("long").alias("path_m"),
            F.col("max_step_m").cast("long").alias("max_step_m"),
        )
        .orderBy("track_id", "sector")
    )


def q_hotspot_focal(spark, sf_dir) -> DataFrame:
    """Sparse-grid focal sum (round 5 — hotspot smoothing / raster
    convolution at the cell level): zoom-10 tile counts through
    operators/grid.focal_sum (spread → one-shuffle gather → support
    join).  Observables: per-tile own count + 3x3 neighborhood sum —
    a wrong offset, a missed self-contribution, or dilated-support
    leakage all shift rows or sums.  The DuckDB twin runs the same
    spread/gather relationally from the raw points."""
    from ..functions import tiles
    from ..operators.grid import focal_sum

    pts = points_df(spark, sf_dir)
    tx, ty = tiles.tile_xy(F.col("lon"), F.col("lat"), 10)
    counts = (
        pts.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _bounded_sort(
        focal_sum(counts, radius=1).select(
            F.col("tx").cast("long").alias("tx"),
            F.col("ty").cast("long").alias("ty"),
            F.col("n").cast("long").alias("n"),
            F.col("focal_sum").cast("long").alias("focal_sum"),
        ),
        "tx",
        "ty",
    )


def q_tile_rollup(spark, sf_dir) -> DataFrame:
    """Hierarchical cell rollup (round 5 — the H3/S2 'hypertable
    rollup' pattern): per-point Morton cell ids at zoom 12 are
    pre-aggregated (one count per occupied fine cell — at 100 TB this
    first groupBy is the massive-reduction step), then re-keyed to
    zoom 8 by PURE BIT ARITHMETIC (functions/tiles.cell_parent — no
    recomputation from coordinates) and re-aggregated.  The DuckDB
    twin runs the identical two-level plan through the shared
    expression texts (cell_id_sql / cell_parent_sql), so the Morton
    interleave, the resolution tag, and the parent shift are all
    hash-checked."""
    from ..functions import tiles

    child = (
        points_df(spark, sf_dir)
        .groupBy(
            tiles.cell_id(F.col("lon"), F.col("lat"), 12).alias("c12")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _bounded_sort(
        child.withColumn("cell8", tiles.cell_parent(F.col("c12"), 12, 8))
        .groupBy("cell8")
        .agg(
            F.sum("n").alias("n_points"),
            F.count(F.lit(1)).alias("n_child_cells"),
        ),
        "cell8",
    )


def q_poly_roundtrip(spark, sf_dir) -> DataFrame:
    """Forward+inverse round trip through the pandas-UDF kernel path:
    poly-2 fitted on china22 (swapped-refit inverse,
    reference transforms.py:201-206), applied forward then backward to
    the doc points; reports round-trip euclidean error stats.  The
    o>=2 inverse is an ESTIMATE (GDAL-style), so the error is small
    but nonzero — the distribution is the observable.  Fully oracled
    since round 3 (plans/oracles.poly_roundtrip: both matrices embed
    as literals, identical forward→inverse arithmetic in SQL)."""
    import json as _json

    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..kernels import Chain, Polynomial
    from ..operators import udfs

    imx, imy = zip(*CHINA22_IMPOINTS)
    gx, gy = zip(*CHINA22_GEOPOINTS)
    trans = Polynomial(order=2).fit(imx, imy, gx, gy)
    # forward then inverse as ONE kernel chain: one Arrow crossing,
    # the same numpy ops in the same order (Arrow doubles are lossless,
    # so the values equal two separate UDF passes bit for bit)
    roundtrip = _json.dumps(Chain([trans, trans.inverse()]).to_json())

    # px-space doc points (bounded domain where the fit is valid)
    pts = points_df(spark, sf_dir).select(
        ((F.col("lon") + 180.0) * 3.0).alias("x"),
        ((F.col("lat") + 85.0) * 5.5).alias("y"),
    )
    b = udfs.with_transformed(
        pts, roundtrip, x="x", y="y", out_x="bx", out_y="by"
    )
    err = geo.euclidean(F.col("x"), F.col("y"), F.col("bx"), F.col("by"))
    return b.select(err.alias("err")).agg(
        F.count(F.lit(1)).alias("n_points"),
        _e(F.sqrt(F.avg(F.pow(F.col("err"), 2))), 6).alias("rmse_e6"),
        _e(F.max("err"), 6).alias("max_e6"),
    )


def q_lang_id_counts(spark, sf_dir) -> DataFrame:
    """Language-ID heuristic (stopword-profile argmax) over the
    documents corpus vs the labeled lang column."""
    docs = synth.raw_documents(spark, sf_dir)
    return (
        docs.select(
            "lang", text.lang_id(F.col("text")).alias("pred_lang")
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def q_auto_choose_model(spark, sf_dir) -> DataFrame:
    """SURVEY op 24 on Spark: candidate transforms evaluated in
    PARALLEL via groupBy(candidate).applyInPandas, each group running
    the full auto_drop_models(leave_one_out=True) refinement; the
    final stable-sorted selection happens relationally.  Must
    reproduce the README golden: Polynomial order 2, 18 points, RMSE
    278.617602953 (README.md:423-437).  Fully oracled since round 5:
    the DuckDB twin embeds the per-candidate refinement results as
    literal rows and replays the stable argmin selection in SQL
    (oracles.auto_choose_model)."""
    import pandas as _pd

    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS

    candidates = ["poly1", "poly2", "poly3", "tin"]
    n = len(CHINA22_IMPOINTS)
    rows = [
        (c, i, float(CHINA22_IMPOINTS[i][0]), float(CHINA22_IMPOINTS[i][1]),
         float(CHINA22_GEOPOINTS[i][0]), float(CHINA22_GEOPOINTS[i][1]))
        for c in candidates
        for i in range(n)
    ]
    gcps = synth.literal_table(
        spark, rows,
        "candidate string, gcp_id int, sx double, sy double, dx double, dy double",
    )

    def evaluate(pdf: _pd.DataFrame) -> _pd.DataFrame:
        from ..kernels import TIN, Polynomial
        from ..kernels.accuracy import auto_drop_models

        cand = pdf["candidate"].iloc[0]
        trans = {"poly1": lambda: Polynomial(order=1),
                 "poly2": lambda: Polynomial(order=2),
                 "poly3": lambda: Polynomial(order=3),
                 "tin": TIN}[cand]()
        pdf = pdf.sort_values("gcp_id")
        inpts = list(zip(pdf["sx"], pdf["sy"]))
        outpts = list(zip(pdf["dx"], pdf["dy"]))
        try:
            _t, kept_in, _ko, _p, _r, err = auto_drop_models(
                trans, inpts, outpts, leave_one_out=True,
                distance="geodesic", metric="rmse",
            )
        except Exception:
            return _pd.DataFrame(
                {"candidate": [], "n_points": [], "err_e6": []}
            )
        return _pd.DataFrame(
            {
                "candidate": [cand],
                "n_points": [len(kept_in)],
                "err_e6": [round(err * 1e6)],
            }
        )

    results = gcps.groupBy("candidate").applyInPandas(
        evaluate, "candidate string, n_points int, err_e6 long"
    )
    # stable selection: lowest error, candidate order as tie-break
    order = F.when(F.col("candidate") == "poly1", 0).when(
        F.col("candidate") == "poly2", 1
    ).when(F.col("candidate") == "poly3", 2).otherwise(3)
    return results.orderBy(F.asc("err_e6"), order.asc()).limit(1)


# --------------------------------------------------------------------------
# relational smoke queries (Spark SQL machinery itself)
# --------------------------------------------------------------------------

def q_revenue_by_nation(spark, sf_dir) -> DataFrame:
    """Multi-join relational query (orders ⋈ customer ⋈ nation):
    Spark SQL's own join machinery under the oracle gate."""
    orders = synth.read_table(spark, sf_dir, "orders")
    customer = synth.read_table(spark, sf_dir, "customer")
    nation = synth.read_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _e(F.sum("o_totalprice"), 2).alias("revenue_e2"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("n_name")
    )

def q_pricing_summary(spark, sf_dir) -> DataFrame:
    li = synth.read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _e(F.sum("l_quantity"), 2).alias("sum_qty_e2"),
            _e(F.sum("l_extendedprice"), 2).alias("sum_price_e2"),
            _e(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price_e2"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_events_by_type(spark, sf_dir) -> DataFrame:
    ev = synth.read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _e(F.sum("value"), 4).alias("sum_value_e4"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# TIN driver-gate query (SURVEY op 15)
# --------------------------------------------------------------------------

# integer input lattice for the TIN gate: lon/lat mapped affinely onto
# a slightly-padded copy of the china22 image bbox ([75,1018]x[64,942],
# reference transforms.py:640-654 corner pseudo-GCPs make that bbox the
# hull) and floored.  Integer coords < 2^11 keep every sign-test
# product < 2^24, so the kernel's float32 arithmetic
# (transforms.py:687-694) is EXACT and equals the oracle's float64.
TIN_XLO, TIN_XHI = 28.0, 1065.0
TIN_YLO, TIN_YHI = 20.0, 986.0
TIN_SX = (TIN_XHI - TIN_XLO) / 360.0
TIN_SY = (TIN_YHI - TIN_YLO) / 170.0


@functools.cache
def tin_gate_model():
    """Driver-side TIN fit on the china22 GCPs (integer pixel coords ->
    geographic), shared by the Spark query and the DuckDB oracle.
    Returns (tin_json, tris) with tris = [(tri_idx, (x1,y1,x2,y2,x3,y3),
    (a0,a1,a2), (b0,b1,b2))] — per-triangle order-1 coefficient rows
    px = a0*x + a1*y + a2, py = b0*x + b1*y + b2 (reference
    transforms.py:666-683)."""
    import json as _json

    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..kernels import transforms as kt

    tin = kt.TIN().fit(
        [p[0] for p in CHINA22_IMPOINTS],
        [p[1] for p in CHINA22_IMPOINTS],
        [p[0] for p in CHINA22_GEOPOINTS],
        [p[1] for p in CHINA22_GEOPOINTS],
    )
    tris = []
    for i, (tri, tr) in enumerate(tin.tris):
        (x1, y1), (x2, y2), (x3, y3) = tri
        tris.append(
            (
                i,
                tuple(float(v) for v in (x1, y1, x2, y2, x3, y3)),
                tuple(float(v) for v in tr.A[0]),
                tuple(float(v) for v in tr.A[1]),
            )
        )
    return _json.dumps(tin.to_json()), tris


def q_tin_transform(spark, sf_dir) -> DataFrame:
    """SURVEY op 15 (TIN.predict) end-to-end through the pandas-UDF
    kernel path: every extracted point is snapped to the integer gate
    lattice, pushed through the FULL TIN kernel (float32 downcast,
    boundary-inclusive sign tests, last-triangle-wins overwrite, NaN
    outside the hull — reference transforms.py:685-715), then
    aggregated per integer-degree bucket of the predicted longitude.

    Cross-engine exactness: integer inputs make the float32 sign test
    exact (products < 2^24); predictions are rounded PER POINT to e6
    integers before summing, so double summation order cannot move the
    hash; the only fp risk is numpy-dgemm-vs-SQL ulp at a rounding
    boundary, empirically absent on the gate data (pinned in
    tests/test_oracle_sql_validity.py)."""
    from ..operators import udfs

    tin_json, _ = tin_gate_model()
    pts = points_df(spark, sf_dir)
    ix = F.floor(F.lit(TIN_XLO) + (F.col("lon") + F.lit(180.0)) * F.lit(TIN_SX))
    iy = F.floor(F.lit(TIN_YLO) + (F.col("lat") + F.lit(85.0)) * F.lit(TIN_SY))
    lattice = pts.select(
        ix.cast("double").alias("ix"), iy.cast("double").alias("iy")
    )
    out = udfs.with_transformed(
        lattice, tin_json, x="ix", y="iy", out_x="px", out_y="py"
    )
    return (
        out.select(
            F.floor("px").cast("long").alias("bucket"),
            _e(F.col("px"), 6).alias("pxe"),
            _e(F.col("py"), 6).alias("pye"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("pxe").alias("sum_px_e6"),
            F.sum("pye").alias("sum_py_e6"),
        )
        .orderBy(F.asc_nulls_last("bucket"))
    )


@functools.cache
def model_accuracy_gate():
    """Driver-side observable re-fit for the model_accuracy gate query
    (reference accuracy.py:41-52 residuals + 75-96 metrics): Polynomial
    order 2 re-fit on ALL china22 GCPs, coefficients shared with the
    DuckDB oracle as literals."""
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..kernels import transforms as kt

    poly = kt.Polynomial(order=2).fit(
        [p[0] for p in CHINA22_IMPOINTS],
        [p[1] for p in CHINA22_IMPOINTS],
        [p[0] for p in CHINA22_GEOPOINTS],
        [p[1] for p in CHINA22_GEOPOINTS],
    )
    gcps = [
        (float(ip[0]), float(ip[1]), float(gp[0]), float(gp[1]))
        for ip, gp in zip(CHINA22_IMPOINTS, CHINA22_GEOPOINTS)
    ]
    return [list(row) for row in poly.A], gcps


def q_model_accuracy(spark, sf_dir) -> DataFrame:
    """SURVEY ops 18/20/21 relationally: residuals of the observable
    re-fit (predict via the order-2 Column twin, geodesic R=6367
    haversine against the observed GCP targets), then RMSE / MAE / MAX
    as one aggregate row.  ``coalesce(1)`` over the literal table
    pins the double-summation order to the GCP row order, matching
    the oracle's sequential VALUES scan.  The table is an in-memory
    LocalTableScan (synth.literal_table), so that single task reads
    JVM rows and starts no Python worker."""
    A, gcps = model_accuracy_gate()
    df = synth.literal_table(
        spark, gcps, "sx double, sy double, dx double, dy double"
    ).coalesce(1)
    px, py = geo.polynomial_predict(A, 2, F.col("sx"), F.col("sy"))
    # distance arg order (pred, obs) — reference accuracy.py:37
    resid = geo.haversine_km(px, py, F.col("dx"), F.col("dy"))
    r = df.select(resid.alias("r"))
    return r.agg(
        F.count(F.lit(1)).alias("n_points"),
        _e(F.sqrt(F.avg(F.col("r") * F.col("r"))), 6).alias("rmse_e6"),
        _e(F.avg(F.abs(F.col("r"))), 6).alias("mae_e6"),
        _e(F.max(F.abs(F.col("r"))), 6).alias("max_e6"),
    )


# Pinned IVF training sample: centroids are fitted ONCE on this
# sample and reused (production train-once-reuse; the literals are
# shared between q_embedding_ivf and its oracle).  Override with
# $SPARK_GRAFT_IVF_TRAIN when the testdata lives elsewhere (advisor
# round-3 fix: no bare absolute path buried in a query body).
IVF_TRAIN_SAMPLE = os.environ.get(
    "SPARK_GRAFT_IVF_TRAIN", "/root/testdata/sf0.001/embeddings.parquet"
)


@functools.cache
def trained_ivf_centroids(n_cells: int = 16, seed: int = 11) -> list[list[float]]:
    """K-means-TRAINED IVF centroids (operators/similarity.
    ivf_train_centroids) on the pinned IVF_TRAIN_SAMPLE embedding
    sample — a deterministic driver-side constant shared by
    q_embedding_ivf and its DuckDB oracle, exactly like the GCP-fit
    literals.  Training on a pinned sample (not the queried sf_dir)
    is what a production pipeline does too: centroids are fitted once
    on a corpus sample, then reused across partitions/runs."""
    import duckdb as _duckdb
    import numpy as _np

    from ..operators.similarity import ivf_train_centroids

    vecs = _duckdb.sql(
        f"select embedding from '{IVF_TRAIN_SAMPLE}' order by vec_id"
    ).fetchnumpy()["embedding"]
    U = _np.array([_np.asarray(v, dtype=_np.float64) for v in vecs])
    U /= _np.linalg.norm(U, axis=1, keepdims=True)
    return ivf_train_centroids(U, n_cells=n_cells, seed=seed)


# --------------------------------------------------------------------------
# S2-style spherical cells + H3-style hex bins (round 5 — the north
# star's "H3/S2 cell encoding" leg, spherical + hexagonal schemes)
# --------------------------------------------------------------------------

S2_CELL_LEVEL = 12   # 4096x4096 per cube face, ~2.4 km cells
HEX_SIZE_M = 500_000.0  # hex circumradius on the equal-area plane
HEX_LAT_TS = 30.0       # EASE-Grid 2.0 standard parallel (EPSG:6933)


def q_s2_cells(spark, sf_dir) -> DataFrame:
    """S2-style spherical cell ranking (round 5): every extracted
    point → cube face via largest-|xyz|-component, quadratic ST
    (S2's area-equalizing projection), level-12 (i, j), position on
    the per-face Hilbert curve — all pure Column expressions; the
    Hilbert walk is a 4-state-transducer LUT unrolled into plain
    codegen (functions/s2.py, no higher-order functions, no
    Python).  The DuckDB oracle walks the
    SAME published recurrence as an independently written recursive
    CTE, so the hash gate cross-checks two formulations.  Unlike the
    Morton tile_id, consecutive ids are unit-step adjacent cells —
    repartitionByRange(s2_cell) is the engine's best spatial-locality
    partitioner; parent rollup stays bit arithmetic (s2.s2_parent,
    nesting pinned in tests/test_s2_hex.py)."""
    from ..functions import s2

    pts = points_df(spark, sf_dir)
    return (
        s2.with_s2_cell(pts, F.col("lon"), F.col("lat"), S2_CELL_LEVEL)
        .select("s2_cell")
        .groupBy("s2_cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.desc("n_points"), F.asc("s2_cell"))
        .limit(100)
    )


def q_s2_rollup(spark, sf_dir) -> DataFrame:
    """Hierarchical S2 rollup (round 5): level-12 spherical cells are
    pre-aggregated (the massive-reduction first groupBy), then
    re-keyed to level 7 by PURE BIT ARITHMETIC (functions/s2.s2_parent
    — Hilbert prefixes nest, no recomputation from coordinates) and
    re-aggregated.  The spherical twin of tile_rollup: together they
    pin the 'hypertable rollup' pattern on both the planar Morton and
    the spherical Hilbert index.  The DuckDB oracle re-keys the fine
    cell ids from its independently formulated recursive-CTE walk with
    the same face/prefix arithmetic spelled as plain SQL."""
    from ..functions import s2

    fine = (
        s2.with_s2_cell(
            points_df(spark, sf_dir), F.col("lon"), F.col("lat"), S2_CELL_LEVEL
        )
        .groupBy("s2_cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine.withColumn(
            "s2_cell7", s2.s2_parent(F.col("s2_cell"), S2_CELL_LEVEL, 7)
        )
        .groupBy("s2_cell7")
        .agg(
            F.sum("n").alias("n_points"),
            F.count(F.lit(1)).alias("n_child_cells"),
        )
        .orderBy(F.desc("n_points"), F.asc("s2_cell7"))
        .limit(200)
    )


def q_hexbin_counts(spark, sf_dir) -> DataFrame:
    """H3-style equal-area hexagonal binning (round 5): points →
    ellipsoidal cylindrical equal-area plane (EPSG 9835, the shared
    text already green via ease_cells) → pointy-top axial hex cell
    via the published cube-round (functions/hexgrid.py) — ONE shared
    SQL text per stage, run as F.expr here and verbatim in the
    oracle.  Whole-stage codegen, single shuffle at the aggregate;
    per-point meter rounding keeps the coordinate sums ulp-safe."""
    from ..functions import hexgrid
    from ..functions.geo import cea_forward_sql

    mx_sql, my_sql = cea_forward_sql("lon", "lat", HEX_LAT_TS)
    qf_sql, rf_sql = hexgrid.hex_qr_frac_sql("mx", "my", HEX_SIZE_M)
    stage = hexgrid.hex_round_stage_sql("qf", "rf")
    hq_sql, hr_sql = hexgrid.hex_qr_final_sql()
    out = (
        points_df(spark, sf_dir)
        .withColumns({"mx": F.expr(mx_sql), "my": F.expr(my_sql)})
        .withColumns({"qf": F.expr(qf_sql), "rf": F.expr(rf_sql)})
        .withColumns({k: F.expr(v) for k, v in stage.items()})
        .withColumns({"hq": F.expr(hq_sql), "hr": F.expr(hr_sql)})
    )
    return (
        out.groupBy("hq", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.round(F.col("mx"), 0).cast("long")).alias("sum_mx_m"),
            F.sum(F.round(F.col("my"), 0).cast("long")).alias("sum_my_m"),
        )
        .orderBy(F.desc("n_points"), F.asc("hq"), F.asc("hr"))
        .limit(100)
    )
