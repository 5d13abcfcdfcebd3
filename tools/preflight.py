"""One-command preflight before handing the repo to the driver:

1. contract invariants (every query has an oracle),
2. Python workers import the unpacked PySpark, not Spark's
   pyspark.zip (gdal_spark/worker.py; a Spark upgrade that changes
   the install layout fails here, before the benchmark slows down),
3. entry() smoke at sf0.001,
4. a fast sampled oracle subset at sf0.01 (one query per family),
5. bench importability.

Usage: python tools/preflight.py          (~2 min)
       python tools/preflight.py --full   (adds the complete gate)
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SAMPLE = [
    "tile_assign", "pip_join", "knn", "rasterize_tile_checksum",
    "tile_render", "tile_render_utm", "dem_metrics", "overlay",
    "minhash_pairs", "ann_topk", "image_stats", "events_windowed",
    "corpus_clean", "geodesic_measures",
    # round-2 families
    "overlay_geom", "dedup_clusters", "geom_predicates", "make_valid",
    "contour_lines", "grid_tin", "ann_ivf", "cog_roundtrip",
    "gpkg_roundtrip", "tps_transform",
    # round-3 families
    "overlay_deg_union", "contour_polygons", "datum_shift",
    "fgb_roundtrip", "s2_cell", "hex_cell", "mdim_view", "stac_index",
    "ntv2_shift", "zarr_roundtrip", "simplify_coverage", "calc_expr",
    "ogr_sql_exec", "video_frame_stats",
    # round-4 families
    "proj_albers", "proj_polar_stereo", "reproject_chain",
    "tile_render_albers", "netcdf_roundtrip", "geoloc_transform",
    "gnm_k_shortest", "curve_fit_back", "ogr_sql_join",
    "tile_render_webp",
    # round-4 session-2 families (new formats, projections, reports)
    "gpx_roundtrip", "gpx_track_points", "gif_roundtrip",
    "mif_roundtrip", "dxf_roundtrip", "proj_homerc", "proj_krovak",
    "info_raster", "info_vector", "topojson_roundtrip",
    "spatialite_roundtrip", "paletted_roundtrip", "tile_tree_roundtrip",
    "vrt_roundtrip", "ngram_jaccard", "cosine_dedup", "pmtiles_roundtrip",
    "raster_stack", "sozip_roundtrip", "osm_roundtrip",
    "flat_raster_roundtrip",
    # round-4 session-3/4 families
    "grib_roundtrip", "dup_spans", "kmeans_train", "mvt_roundtrip",
    "filter_funnel", "mixing_sample", "lm_perplexity", "nb_classify",
    "nitf_roundtrip", "raster_pipeline", "driver_list",
    # round-4 fifth-sweep families
    "bpe_pair_counts", "semdedup", "gdal_compare", "line_locate",
    "lineref_parts", "arrow_roundtrip", "isis3_roundtrip",
    "hdr_raster_roundtrip", "proj_cassini", "exif_strip",
    "histogram_match", "g711_audio_features", "corpus_shuffle",
    "geotiff_edit", "image_ssim", "lan_roundtrip",
]


FRESH_DAYS = 7  # every registered query needs a green local check
                # at most this old (VERDICT r3 ask #10)


def main() -> None:
    import time

    import __spark_entry__ as entry

    from check_oracles import ROWS_ONLY, load_cache

    qs = entry.queries()
    oracles = entry.oracle_sql()
    missing = [n for n in qs if n not in oracles and n not in ROWS_ONLY]
    assert not missing, f"queries without oracles: {missing}"
    print(f"[ok] contract: {len(qs)} queries, all oracle-backed "
          f"({len(ROWS_ONLY)} documented rows-only)")

    cache = load_cache()
    cutoff = time.time() - FRESH_DAYS * 86400
    stale = [
        n for n in qs
        if n not in cache or cache[n].get("ts", 0) < cutoff
    ]
    if stale:
        print(
            f"[STALE] {len(stale)} queries lack a green local check "
            f"within {FRESH_DAYS} days:\n  " + " ".join(sorted(stale))
        )
        print(
            "  run: python tools/check_oracles.py /root/testdata/sf0.01 "
            + " ".join(sorted(stale))
        )
        raise SystemExit(1)
    print(f"[ok] freshness: all {len(qs)} queries green within "
          f"{FRESH_DAYS} days")

    from gdal_spark.session import get_spark
    from gdal_spark.worker import worker_imports

    spark = get_spark("preflight", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    where = worker_imports(spark).file
    assert ".zip" not in where, (
        f"Python workers import PySpark from a zip ({where}): "
        "gdal_spark/worker.py no longer finds the unpacked install"
    )
    print(f"[ok] worker imports PySpark from {where}")
    n = entry.entry(spark).count()
    print(f"[ok] entry() smoke: {n} rows")
    spark.stop()

    args = [sys.executable, "tools/check_oracles.py", "/root/testdata/sf0.01"]
    if "--full" not in sys.argv:
        args += SAMPLE
    r = subprocess.run(args, capture_output=True, text=True)
    tail = [l for l in r.stdout.replace("\r", "\n").splitlines() if l.strip()]
    print("\n".join(tail[-3:]))
    assert "FAILURES: none" in r.stdout, "oracle failures!"
    print("[ok] preflight complete")


if __name__ == "__main__":
    main()
