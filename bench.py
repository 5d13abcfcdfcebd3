"""Headline benchmark: spatial-join + tile-assignment throughput.

Runs the flagship pipeline (derive geo -> PIP join zones -> tile
assignment at z=12 -> per-tile counts) plus kNN on the sf parquet dir
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "images_per_sec": ...}

JITTER CONTROL (this sandbox's hypervisor throttles sustained
parallel compute ~3x minute to minute): every query runs BEST-OF-N
(SPARK_GRAFT_BENCH_REPS, default 3) with a short single-thread numpy
probe interleaved before each rep. Per-query bests, the probe
readings, and the probe value observed at each query's best rep are
persisted to BENCH/LAST_RUN.json so round-over-round comparisons can
normalize for host weather instead of guessing.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def host_probe() -> float:
    """~0.2 s single-thread numpy throughput probe (iterations/sec):
    a relative host-speed reading taken right before each bench rep,
    so each per-query best can be matched to how fast the VM actually
    ran at that moment."""
    import numpy as np

    a = np.random.default_rng(1).normal(size=(160, 160))
    t0 = time.time()
    n = 0
    while time.time() - t0 < 0.2:
        a = a @ a
        a /= np.abs(a).max()
        n += 1
    return round(n / (time.time() - t0), 1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.fixtures.sites import build_sites
    from gdal_spark.fixtures.zones import build_zones
    from gdal_spark.operators.knn import knn_join
    from gdal_spark.operators.spatial_join import pip_join
    from gdal_spark.operators.tiling import assign_tiles
    from gdal_spark.session import get_spark

    spark = get_spark("gdal-spark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")

    image_ids = orders.select(F.col("o_orderkey").alias("i"))
    n_images = image_ids.count()
    images = build_images(spark, ids_df=image_ids, with_payload=False)
    zones = build_zones(spark, ids_df=supplier.select(F.col("s_suppkey").alias("fid")))
    sites = build_sites(spark, ids_df=customer.select(F.col("c_custkey").alias("i")))

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    rep_log: dict[str, list[dict]] = {}
    probe_at_best: dict[str, float] = {}

    def timed(name, fn):
        best = None
        result = None
        rep_log[name] = []
        for _ in range(reps):
            probe = host_probe()
            t0 = time.time()
            result = fn()
            dt = round(time.time() - t0, 3)
            rep_log[name].append({"sec": dt, "probe": probe})
            if best is None or dt < best:
                best = dt
                probe_at_best[name] = probe
        timings[name] = best
        return result

    # warm the JVM/Arrow paths once so timings measure steady state
    images.limit(10).agg(F.count("*")).collect()

    timed(
        "tile_assign",
        lambda: assign_tiles(images, 12)
        .agg(F.count("*").alias("n"), F.sum("tile_x").alias("sx"))
        .collect(),
    )
    from gdal_spark.tiles import hexcell

    timed(
        "hex_cell",
        lambda: hexcell.with_hex_cell(images, F.col("lat_c"), F.col("lon_c"), 9)
        .agg(F.count("*"), F.sum(F.col("hex_cell") % 1000003))
        .collect(),
    )
    timed(
        "pip_join",
        lambda: pip_join(images, zones).agg(F.count("*")).collect(),
    )
    timed(
        "knn",
        lambda: knn_join(sites, images, 5, n_points_hint=n_images)
        .agg(F.count("*"))
        .collect(),
    )
    timed(
        "pipeline",
        lambda: (
            assign_tiles(images, 12)
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count("*").alias("n_images"))
            .agg(F.count("*"), F.sum("n_images"))
            .collect(),
            pip_join(images, zones).agg(F.count("*")).collect(),
        ),
    )

    # raster ops: burn-in + warp render on bounded subsets
    from gdal_spark.operators.rasterize import rasterize_tile_add
    from gdal_spark.operators.render import render_tiles

    timed(
        "rasterize",
        lambda: rasterize_tile_add(zones, 6).agg(F.count("*"), F.sum("burn_sum")).collect(),
    )
    render_subset = images.where(F.col("i") % 1999 == 0)
    timed(
        "tile_render",
        lambda: render_tiles(render_subset, 12)
        .agg(F.count("*"), F.sum("checksum"))
        .collect(),
    )

    from gdal_spark.operators.overlay import overlay_join
    from gdal_spark.operators.render import proj_image_geo

    timed(
        "overlay",
        lambda: overlay_join(zones, zones).agg(F.count("*"), F.sum("inter_e4")).collect(),
    )
    utm_imgs = proj_image_geo(images.where(F.col("i") % 1999 == 0).select("i"), 32631)
    timed(
        "utm_warp",
        lambda: render_tiles(utm_imgs, 11, crs=32631)
        .agg(F.count("*"), F.sum("checksum"))
        .collect(),
    )

    # training-data ops: dedup + ANN on documents/embeddings
    from gdal_spark.operators.similarity import cosine_topk
    from gdal_spark.text.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the synthetic corpus shares one tiny vocabulary, so most random
    # pairs hover near the 0.5 Jaccard threshold -> quadratic
    # candidate explosion unrelated to the operator; bound the slice
    docs_slice = docs.where(F.col("doc_id") % 2 == 0)
    timed(
        "minhash_dedup",
        lambda: minhash_lsh_pairs(docs_slice).agg(F.count("*")).collect(),
    )
    timed(
        "simhash_dedup",
        lambda: simhash_pairs(docs).agg(F.count("*")).collect(),
    )
    ann_q = emb.where(F.col("vec_id") % 16 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    timed(
        "ann_topk",
        lambda: cosine_topk(emb, ann_q, 10).agg(F.count("*")).collect(),
    )

    total = round(sum(timings.values()), 3)
    images_per_sec = round(n_images / timings["pipeline"], 1)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    summary = {
        "metric": "spatial_join_tile_assign_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n_images": n_images,
        "images_per_sec": images_per_sec,
        "cpus": cpus,
        "reps": reps,
    }
    print(json.dumps(summary))
    try:
        bench_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH"
        )
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "LAST_RUN.json"), "w") as f:
            json.dump(
                {
                    **summary,
                    "probe_at_best": probe_at_best,
                    "rep_log": rep_log,
                },
                f,
            )
    except OSError:
        pass  # read-only checkout: the stdout line is the contract
    spark.stop()


if __name__ == "__main__":
    main()
