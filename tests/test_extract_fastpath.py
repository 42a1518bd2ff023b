"""Round-6 extraction fast-path pins.

The optimization round replaced three per-query constant factors on
the shared points pipeline — the per-query GCP-fit Spark job (now a
memoized kernel fit from the literal fixture), format_string media_ref
rendering (now fixed-scale decimal casts), and regexp_extract payload
parsing (now substring_index) — each claimed BIT-IDENTICAL to the
path it replaced.  These tests pin those claims over the full
sf0.001 corpus so a future edit cannot silently diverge."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from transformio_spark.operators import extract
from transformio_spark.sources import synth

_NUM = r"(-?[0-9]+\.?[0-9]*)"


def test_cached_affine_bit_equals_spark_fit(spark):
    a_fast = extract.px2geo_affine()
    a_spark = extract.fit_px2geo_affine(synth.gcps(spark))
    assert a_fast.shape == a_spark.shape == (3, 3)
    assert np.array_equal(a_fast, a_spark)


def test_media_ref_rendering_matches_format_string(spark, sf_dir):
    """Every media_ref emitted by docs_spans equals the original
    format_string('%.4f'/'%.2f') rendering, string-for-string."""
    docs = synth.docs_spans(spark, sf_dir)
    media = docs.select(
        F.explode(
            F.filter("spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("span")
    ).select(F.col("span.media_ref").alias("ref"))
    kind = F.substring_index(F.col("ref"), ":", 1)
    payload = F.substring_index(F.col("ref"), ":", -1)
    x = F.substring_index(payload, ",", 1).cast("double")
    y = F.substring_index(payload, ",", -1).cast("double")
    refmt = F.when(
        kind == "px", F.format_string("px:%.2f,%.2f", x, y)
    ).otherwise(F.format_string("geo:%.4f,%.4f", x, y))
    n_bad = media.where(refmt != F.col("ref")).count()
    assert n_bad == 0


def test_media_only_docs_extraction_identical(spark, sf_dir):
    """extract_coordinates over docs_spans(media_only=True) returns
    exactly the same rows as over the full interleaved table — the
    points family's 'project early' rewrite drops only never-observed
    text spans."""
    a = extract.px2geo_affine()
    full = extract.extract_coordinates(
        synth.docs_spans(spark, sf_dir), a
    )
    slim = extract.extract_coordinates(
        synth.docs_spans(spark, sf_dir, media_only=True), a
    )
    assert slim.schema == full.schema
    assert slim.count() == full.count() > 0
    assert slim.exceptAll(full).count() == 0
    assert full.exceptAll(slim).count() == 0


def test_span_pair_generator_matches_filter_form(spark, sf_dir):
    """The round-6 generator-routed span_pair_points returns exactly
    the rows of the original size()>=2 filter formulation."""
    a = extract.px2geo_affine()
    docs = synth.docs_spans(spark, sf_dir)
    new = extract.span_pair_points(docs, a)

    media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    ref0 = F.element_at(media, 1)["media_ref"]
    ref1 = F.element_at(media, 2)["media_ref"]
    kind0 = F.regexp_extract(ref0, r"^(geo|px):", 1)
    raw_x0 = F.regexp_extract(ref0, rf"^[a-z]+:{_NUM},", 1).cast("double")
    raw_y0 = F.regexp_extract(ref0, rf",{_NUM}$", 1).cast("double")
    from transformio_spark.functions import geo

    alon, alat = geo.polynomial_predict_sql(a.tolist(), 1, "_x0", "_y0")
    x0, y0 = F.col("_x0"), F.col("_y0")
    lon0 = F.when(kind0 == "px", F.round(F.expr(alon), 4)).otherwise(x0)
    lat0 = F.when(kind0 == "px", F.round(F.expr(alat), 4)).otherwise(y0)
    lon1 = F.regexp_extract(ref1, rf"^[a-z]+:{_NUM},", 1).cast("double")
    lat1 = F.regexp_extract(ref1, rf",{_NUM}$", 1).cast("double")
    old = docs.where(F.size(media) >= 2).withColumns(
        {"_x0": raw_x0, "_y0": raw_y0}
    ).select(
        "doc_id",
        "doc_num",
        lon0.alias("lon0"),
        lat0.alias("lat0"),
        lon1.alias("lon1"),
        lat1.alias("lat1"),
    )
    assert new.schema == old.schema
    assert new.count() == old.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_gc_interpolate_staged_bit_equals_inline(spark, sf_dir):
    """The round-6 staged slerp (gc_interpolate_stages) returns
    bit-identical doubles to the inline gc_interpolate_sql text the
    oracle keeps, over every span pair of the corpus (incl. the
    degenerate d=0 CASE) at all three gate fractions."""
    from transformio_spark.functions import geo

    docs = synth.docs_spans(spark, sf_dir, media_only=True)
    pairs = extract.span_pair_points(docs, extract.px2geo_affine())
    # degenerate coincident pair exercises the d=0 short-circuit
    extra = spark.createDataFrame(
        [("d", 0, 10.5, -3.25, 10.5, -3.25)],
        "doc_id string, doc_num long, lon0 double, lat0 double, "
        "lon1 double, lat1 double",
    )
    pairs = pairs.unionByName(extra)
    pairs = pairs.withColumn(
        "fv", F.explode(F.array(*[F.lit(f) for f in (0.25, 0.5, 0.75)]))
    )
    ilon, ilat = geo.gc_interpolate_sql("lon0", "lat0", "lon1", "lat1", "fv")
    stages, slon, slat = geo.gc_interpolate_stages(
        "lon0", "lat0", "lon1", "lat1", "fv"
    )
    staged = pairs
    for name, expr in stages:
        staged = staged.withColumn(name, F.expr(expr))
    both = staged.select(
        F.expr(ilon).alias("ilon"),
        F.expr(ilat).alias("ilat"),
        F.expr(slon).alias("slon"),
        F.expr(slat).alias("slat"),
    )
    n_bad = both.where(
        (F.col("ilon") != F.col("slon")) | (F.col("ilat") != F.col("slat"))
    ).count()
    assert n_bad == 0
    assert both.count() > 0


def test_media_points_numeric_bit_equal(spark, sf_dir):
    """The round-6 value-level fastpath (decimal snap applied directly
    instead of render-to-media_ref + parse-back) returns exactly the
    rows of the string path over the full corpus."""
    slow = extract.media_points(
        synth.docs_spans(spark, sf_dir, media_only=True)
    )
    fast = synth.media_points_numeric(spark, sf_dir)
    assert [
        (f.name, f.dataType) for f in fast.schema
    ] == [(f.name, f.dataType) for f in slow.schema]
    assert fast.count() == slow.count() > 0
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_points_df_matches_string_path(spark, sf_dir):
    """End-to-end: the points_df plan (numeric fastpath + affine
    tail) row-equals the original docs_spans -> extract_coordinates
    composition."""
    from transformio_spark.plans.queries import points_df

    a = extract.px2geo_affine()
    slow = extract.extract_coordinates(
        synth.docs_spans(spark, sf_dir, media_only=True), a
    )
    fast = points_df(spark, sf_dir)
    assert fast.count() == slow.count() > 0
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_span_pair_numeric_bit_equal(spark, sf_dir):
    """The round-6 numeric span-pair fastpath row-equals the
    string-path span_pair_points over the full corpus."""
    a = extract.px2geo_affine()
    slow = extract.span_pair_points(
        synth.docs_spans(spark, sf_dir, media_only=True), a
    )
    fast = synth.span_pair_points_numeric(spark, sf_dir, a)
    assert [
        (f.name, f.dataType) for f in fast.schema
    ] == [(f.name, f.dataType) for f in slow.schema]
    assert fast.count() == slow.count() > 0
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_substring_parse_matches_regex(spark, sf_dir):
    """media_points' substring parse == the original regexp_extract
    parse on every span of the corpus (kind, raw_x, raw_y)."""
    docs = synth.docs_spans(spark, sf_dir)
    fast = extract.media_points(docs)
    media = docs.select(
        "doc_id",
        F.posexplode(
            F.filter("spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("span_pos", "span"),
    )
    ref = F.col("span.media_ref")
    slow = media.select(
        "doc_id",
        "span_pos",
        F.regexp_extract(ref, r"^(geo|px):", 1).alias("ref_kind"),
        F.regexp_extract(ref, rf"^[a-z]+:{_NUM},", 1)
        .cast("double")
        .alias("raw_x"),
        F.regexp_extract(ref, rf",{_NUM}$", 1).cast("double").alias("raw_y"),
    )
    joined = fast.alias("a").join(slow.alias("b"), ["doc_id", "span_pos"])
    n_bad = joined.where(
        (F.col("a.ref_kind") != F.col("b.ref_kind"))
        | (F.col("a.raw_x") != F.col("b.raw_x"))
        | (F.col("a.raw_y") != F.col("b.raw_y"))
    ).count()
    assert n_bad == 0
    assert fast.count() == slow.count() > 0
