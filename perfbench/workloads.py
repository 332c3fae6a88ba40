"""The benchmark's workloads: which contract queries one client sends.

A run starts a fresh process and sends every query of its workload once,
in the listed order, over tables generated from the seed: the first
pass of a freshly started API server or bot process, from input to
complete result.  The order is fixed because first-use costs (JIT, class
loading, the first Python worker, the first stream) land on whichever
query runs first; a shuffled order would move seconds between queries
from seed to seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS = {w.name: w for w in (
    Workload(
        name="read_api",
        why=("public place-report read API: 18 short queries where plan "
             "construction, Catalyst and code generation are a large "
             "share of latency"),
        queries=(
            "geo_tile_report", "geoall_area_summary", "history_report",
            "p2_main_osm_element", "p12_mercator_tiles", "g3_tile_grid",
            "g7_zorder", "g8_zcell_scan", "a2_images_size",
            "a4_place_types", "p10_name_tags", "g13_hex_bin",
            "a1_area_summary", "p4_history_features",
            "p6_change_classification", "p7_review_candidates",
            "j7_history_full_check", "s13_geojson_features")),
    Workload(
        name="sync_ingest",
        why=("sync bot write path: 14 jobs with staged writes, snapshots, "
             "checkpoints, streaming micro-batches and the g4/g5 Python "
             "kernels"),
        queries=(
            "m1m4_sync_ops", "m9_apply_changelog", "m11_asof_snapshot",
            "e9_extract_diff", "s1_osm_xml_roundtrip", "s2_diff_roundtrip",
            "s15_merge_upsert", "st_scd2_upsert", "st_stream_join",
            "st_exact_dedup", "g4_simplify_ways", "g5_way_stats",
            "m10_tripadvisor_ops", "m8_placetype_ops")),
)}
