"""Physical-plan regression guard.

The manual audit (tools/plan_audit.py, PLANS.md) established the plan
invariants the 100 TB story rests on; this test pins them in CI for a
representative cross-section of the gate registry, so a refactor that
reintroduces a cartesian product, a single-partition exchange, or an
unsanctioned Python eval fails the suite instead of waiting for the
next manual audit. Plans are compiled, never executed — the test adds
seconds, not minutes.
"""

from __future__ import annotations

import re

import pytest

from osm2gtfs_spark.plans import queries as Q

# query -> max sanctioned Python evals (only the media byte decoder
# and the IVF Lloyd mapInPandas are allowed Python on the hot path)
GUARDED = {
    "q1_pricing_summary": 0,
    "knn_snap": 0,
    "within_distance_pairs": 0,
    "minhash_lsh_pairs": 0,
    "ngram_jaccard_dedup": 0,
    "ann_lsh_topk": 0,
    "embedding_near_dup": 0,
    "dup_span_scrub": 0,
    "pack_sequences": 0,
    "inverted_index": 0,
    "bm25_topk": 0,
    "incremental_dedup": 0,
    "url_canonical_filter": 0,
    "corpus_prep_pipeline": 0,
    "corpus_prep_packed": 0,
    "snap_to_polyline": 0,
    # raster_region_extract is NOT guarded: constructing it EXECUTES the
    # iterative connected-components rounds (like dedup_components, also
    # unguarded) and the final plan would not cover those rounds anyway
    "corpus_stats_artifact": 0,
    "media_decode_meta_real": 1,
    "sessionize_batch": 0,
    "rolling_event_stats": 0,
    # round-5 continuation: span family + geometric joins + mobility
    "span_offset_repair": 0,
    "media_asset_dedup": 0,
    "pack_interleaved_chunks": 0,
    "segment_intersection_join": 0,
    "corridor_match_routes": 0,
    "idw_grid_interpolation": 0,
    "space_time_match_events": 0,
    "route_overlap_jaccard": 0,
    "mixture_sample_corpus": 0,
    "focal_cell_smoothing": 0,
    "zonal_stats_polygons": 0,
    "bigram_fluency_score": 0,
    # round-5 third session (grid_dbscan_clusters is NOT guarded: its
    # component rounds execute eagerly at construction)
    "gi_star_hotspots": 0,
    "tile_pyramid": 0,
    "grid_voronoi_alloc": 0,
    "network_reach_cost": 0,
    "chunk_text_overlap": 0,
    "polygon_fill_cells": 0,
    "flow_pagerank": 0,
    "tile_quadkeys": 0,
    # geofence_stream / tile_pyramid_ingest are NOT guarded: they drain
    # a streaming query at construction (same exclusion as the other
    # streaming gates)
    "interleaved_chunk_spans": 0,
    "tile_snapshot_diff": 0,
    "cell_anomaly_windows": 0,
    "flow_rose_cells": 0,
    "distinct_sketch_buckets": 0,
    "speed_map_cells": 0,
    "mobility_pipeline_composed": 0,
    "media_context_pairs": 0,
    "moran_i_global": 0,
    "locf_gap_fill": 0,
    # media_frame_sample carries the sanctioned fake-decode mapInPandas
    "media_frame_sample": 1,
    "cell_type_gini": 0,
    "quadkey_tile_rollup": 0,
    "bilinear_splat_density": 0,
    "grid_flow_field": 0,
    # cdc_snapshot_stream / cdc_changes_feed are NOT guarded (stream
    # drain / direct state writes at construction)
    "cdc_apply_changeset": 0,
    "histogram_quantiles_scale": 0,
    "heavy_hitters_keys": 0,
}

# queries whose plan legitimately carries a SinglePartition exchange:
# a global 1-row aggregate's final step merges ONE partial-agg row per
# partition — bounded metadata, not a data-carrying single reducer
# mixture_sample_corpus: the global feasibility min is a window over
# the per-stratum counts table (|strata| rows) — same bounded shape
ALLOW_SINGLE_PARTITION = {
    "corpus_stats_artifact",
    "mixture_sample_corpus",
    # gi_star: the global-moment window runs over the PER-CELL aggregate
    # table (≤ 4^res rows — grid-bounded metadata, never data rows)
    "gi_star_hotspots",
    # moran_i: one-row global aggregate carrying six-integer partition
    # PARTIALS over the per-cell table — same bounded shape
    "moran_i_global",
    # heavy_hitters: the lazy threshold window runs over the BUCKET
    # histogram (≤ 16^h rows — bounded metadata, never data rows)
    "heavy_hitters_keys",
}


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_plan_invariants(spark, sf_dir, name):
    df = Q.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"CartesianProduct|BroadcastNestedLoop", plan), name
    if name not in ALLOW_SINGLE_PARTITION:
        assert not re.search(
            r"Exchange SinglePartition|Arguments: SinglePartition", plan
        ), name
    n_py = len(
        re.findall(
            r"(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)",
            plan,
        )
    )
    assert n_py <= GUARDED[name], f"{name}: {n_py} Python evals in plan"
