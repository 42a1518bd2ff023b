"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (interleaved-docs spans →
coordinate extraction → fitted-affine decode → tile encode →
broadcast spatial join → per-region counts) at sf0.001.

``_QUERIES`` is the one place a query is declared: each entry maps its
name to the Spark query function (plans/queries.py) and the function
that writes its DuckDB twin's SQL text (plans/oracles.py).
``queries()`` and ``oracle_sql()`` both read the table, in its order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from transformio_spark.plans import oracles  # noqa: E402
from transformio_spark.plans import queries as q  # noqa: E402
from transformio_spark.plans.session import ensure_shipped  # noqa: E402

_QUERIES: dict[str, tuple[Callable, Callable[[], str]]] = {
    "tile_counts": (q.q_tile_counts, oracles.tile_counts),
    "region_join_bcast": (q.q_region_join_bcast, oracles.region_join_counts),
    "region_join_salted": (q.q_region_join_salted, oracles.region_join_counts),
    "pip_triangle": (q.q_pip_triangle, oracles.pip_triangle_counts),
    "pip_polygon": (q.q_pip_polygon, oracles.pip_polygon_counts),
    "knn_city_assign": (q.q_knn_city_assign, oracles.knn_counts),
    "radius_join": (q.q_radius_join, oracles.radius_join),
    "events_asof_join": (q.q_events_asof_join, oracles.events_asof_join),
    "hotspot_share": (q.q_hotspot_share, oracles.hotspot_share),
    "affine_fit": (q.q_affine_fit, oracles.affine_fit),
    "span_pair_distance": (q.q_span_pair_distance, oracles.span_pair_distance),
    "vector_transform": (q.q_vector_transform, oracles.vector_transform),
    "poly2_transform": (q.q_poly2_transform, oracles.poly2_transform),
    "mercator_cells": (q.q_mercator_cells, oracles.mercator_cells),
    "mollweide_cells": (q.q_mollweide_cells, oracles.mollweide_cells),
    "polar_cells": (q.q_polar_cells, oracles.polar_cells),
    "robinson_cells": (q.q_robinson_cells, oracles.robinson_cells),
    "utm_cells": (q.q_utm_cells, oracles.utm_cells),
    "lcc_cells": (q.q_lcc_cells, oracles.lcc_cells),
    "laea_cells": (q.q_laea_cells, oracles.laea_cells),
    "ease_cells": (q.q_ease_cells, oracles.ease_cells),
    "zonal_stats": (q.q_zonal_stats, oracles.zonal_stats),
    "raster_histogram": (q.q_raster_histogram, oracles.raster_histogram),
    "tile_rollup": (q.q_tile_rollup, oracles.tile_rollup),
    "length_quantiles": (q.q_length_quantiles, oracles.length_quantiles),
    "session_window_overlap": (q.q_session_window_overlap, oracles.session_window_overlap),
    "polygon_areas": (q.q_polygon_areas, oracles.polygon_areas),
    "hotspot_focal": (q.q_hotspot_focal, oracles.hotspot_focal),
    "idw_surface": (q.q_idw_surface, oracles.idw_surface),
    "trajectory_stats": (q.q_trajectory_stats, oracles.trajectory_stats),
    "grid_dbscan": (q.q_grid_dbscan, oracles.grid_dbscan),
    "geohash_counts": (q.q_geohash_counts, oracles.geohash_counts),
    "s2_cells": (q.q_s2_cells, oracles.s2_cells),
    "s2_rollup": (q.q_s2_rollup, oracles.s2_rollup),
    "hexbin_counts": (q.q_hexbin_counts, oracles.hexbin_counts),
    "gc_waypoints": (q.q_gc_waypoints, oracles.gc_waypoints),
    "sequence_packing": (q.q_sequence_packing, oracles.sequence_packing),
    "event_sessions": (q.q_event_sessions, oracles.event_sessions),
    "decontamination": (q.q_decontamination, oracles.decontamination),
    "repetition_scores": (q.q_repetition_scores, oracles.repetition_scores),
    "stratified_sample": (q.q_stratified_sample, oracles.stratified_sample),
    "projective_transform": (q.q_projective_transform, oracles.projective_transform),
    "tin_transform": (q.q_tin_transform, oracles.tin_transform),
    "model_accuracy": (q.q_model_accuracy, oracles.model_accuracy),
    "poly_roundtrip": (q.q_poly_roundtrip, oracles.poly_roundtrip),
    "warp_affine_checksums": (q.q_warp_affine_checksums, oracles.warp_affine_checksums),
    "loo_residuals": (q.q_loo_residuals, oracles.loo_residuals),
    "quality_by_lang": (q.q_quality_by_lang, oracles.quality_by_lang),
    "pii_redaction": (q.q_pii_redaction, oracles.pii_redaction),
    "unigram_nll": (q.q_unigram_nll, oracles.unigram_nll),
    "inverted_index": (q.q_inverted_index, oracles.inverted_index),
    "doc_chunks": (q.q_doc_chunks, oracles.doc_chunks),
    "token_stats": (q.q_token_stats, oracles.token_stats),
    "lang_id_counts": (q.q_lang_id_counts, oracles.lang_id_counts),
    "auto_choose_model": (q.q_auto_choose_model, oracles.auto_choose_model),
    "dedup_exact": (q.q_dedup_exact, oracles.dedup_exact),
    "minhash_pairs": (q.q_minhash_pairs, oracles.minhash_pairs),
    "neardup_components": (q.q_neardup_components, oracles.neardup_components),
    "ngram_jaccard_pairs": (q.q_ngram_jaccard_pairs, oracles.ngram_jaccard_pairs),
    "curation_funnel": (q.q_curation_funnel, oracles.curation_funnel),
    "streaming_window_counts": (q.q_streaming_window_counts, oracles.streaming_window_counts),
    "simhash_buckets": (q.q_simhash_buckets, oracles.simhash_buckets),
    "media_features": (q.q_media_features, oracles.media_features),
    "media_frames": (q.q_media_frames, oracles.media_frames),
    "embedding_knn_l2": (q.q_embedding_knn_l2, oracles.embedding_knn_l2),
    "embedding_ann_lsh": (q.q_embedding_ann_lsh, oracles.embedding_ann_lsh),
    "embedding_neardup_pairs": (q.q_embedding_neardup_pairs, oracles.embedding_neardup_pairs),
    "embedding_ivf": (q.q_embedding_ivf, oracles.embedding_ivf),
    "embedding_int8_rerank": (q.q_embedding_int8_rerank, oracles.embedding_int8_rerank),
    "pricing_summary": (q.q_pricing_summary, oracles.pricing_summary),
    "revenue_by_nation": (q.q_revenue_by_nation, oracles.revenue_by_nation),
    "events_by_type": (q.q_events_by_type, oracles.events_by_type),
}


def _shipped(fn: Callable) -> Callable:
    """Wrap a query so the engine package reaches executor Python
    workers regardless of how the driver launched (see
    plans/session.ensure_shipped)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full docs→extract→
    transform→tile→spatial-join pipeline, per-region point counts."""
    ensure_shipped(spark)
    return q.q_region_join_bcast(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, (fn, _) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: build() for name, (_, build) in _QUERIES.items()}


def no_oracle_reason() -> dict[str, str]:
    """Per-query justification for every ``queries()`` entry that has
    no ``oracle_sql()`` twin — each is genuinely non-SQL-expressible
    (the driver records a rows-only check for these).  Empty since
    round 5: media_frames gained a real AVI decode + arithmetic
    oracle, and auto_choose_model a literal-errs + SQL-argmin oracle
    (its refinement loops run at oracle-build time; only the
    relational selection is SQL — see plans/oracles.auto_choose_model
    for the circularity analysis)."""
    return {}
