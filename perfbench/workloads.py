"""The benchmark workloads. BENCHMARK.json runs join_tile_skewed and
render_pyramid; knn_sites runs by hand, and its layer is traced in the
join_tile_skewed traced run.

Each workload writes its inputs to Parquet from a seed (`write_inputs`),
reads them back (`load`), runs one rep from the operator call to the
checked answer (`rep`), and in a traced run records per-layer spans and
counts around calls into the engine's public functions (`trace`).

The seed moves the id range the fixture rules are evaluated on, so a
new seed gives new positions, polygons and pixels with the same mix of
sizes and formats. Seed 0 is the canonical input.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gdal_spark.fixtures import georef
from gdal_spark.fixtures.images import build_images
from gdal_spark.fixtures.sites import build_sites
from gdal_spark.fixtures.zones import build_zones
from gdal_spark.operators import render, scale
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.spatial_join import (
    pip_join, with_bbox_cells, with_point_cell, zone_edges,
)
from gdal_spark.operators.tiling import assign_tiles, tile_counts
from gdal_spark.raster.codecs import decode_image
from gdal_spark.tiles import tilemath as tm

from perfbench.tracing import PHASE_PROPERTY

TILE_ZOOM = 12
HOTSPOTS = [(-73.9, 40.7), (2.35, 48.85), (139.7, 35.7), (151.2, -33.9)]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def noop(df: DataFrame) -> None:
    """Materialize every row of `df` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def phase(spark: SparkSession, name: str):
    """Tag every job launched inside with `name`: a job group for the
    status tracker and a local property for the event log."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    sc.setLocalProperty(PHASE_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(PHASE_PROPERTY, None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_phase(spark: SparkSession, name: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(name))


def persisted_rdd_ids(spark: SparkSession) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def restore_caches(spark: SparkSession, before: set[int]) -> int:
    """Unpersist every RDD persisted since `before` and, when nothing
    was cached before, drop every cached table. Returns how many RDDs
    were left persisted."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = [k for k in rdds.keys() if int(k) not in before]
    for k in leaked:
        rdds[k].unpersist(True)
    if not before:
        spark.catalog.clearCache()
    return len(leaked)


# The fixture rules hold only on ids below these limits: the positions
# come from an LCG modulo 2**31 whose long multiply overflows (an error
# under ANSI mode) past about 8e9, and site ids are padded to 6 digits.
ID_LIMIT = 1 << 31
SITE_ID_LIMIT = 10**6


def id_start(seed: int, n: int, limit: int = ID_LIMIT) -> int:
    """First id of the seed's block of `n` ids. Seeds wrap modulo the
    number of whole blocks below `limit`, so any integer seed gives ids
    the fixture rules hold on; small seeds start at seed * n."""
    return (seed % max(1, limit // n)) * n


def id_range(spark: SparkSession, seed: int, n: int, parts: int, name: str = "i",
             limit: int = ID_LIMIT) -> DataFrame:
    start = id_start(seed, n, limit)
    return spark.range(start, start + n, 1, parts).withColumnRenamed("id", name)


def skewed_images(ids: DataFrame) -> DataFrame:
    """Images whose every 5th row sits on one of 4 hotspots (the rule of
    tools/scaling_bench.py:build_skewed_images): 20% of the table lands
    in 4 index cells, the skew the cell join must absorb."""
    img = georef.with_image_geo(ids, "i")
    i = F.col("i")
    hot = (i % 5) == 0
    slot = ((i / 5).cast("int") % 4) + 1
    hlon = F.element_at(F.array(*[F.lit(h[0]) for h in HOTSPOTS]), slot)
    hlat = F.element_at(F.array(*[F.lit(h[1]) for h in HOTSPOTS]), slot)
    jitter = ((i % 997).cast("double") - 498.0) * 1e-5
    img = img.withColumn("lon_c", F.when(hot, hlon + jitter).otherwise(F.col("lon_c")))
    img = img.withColumn("lat_c", F.when(hot, hlat + jitter).otherwise(F.col("lat_c")))
    cx, cy = tm.merc_x(F.col("lon_c")), tm.merc_y(F.col("lat_c"))
    half_w = F.col("w").cast("double") * F.lit(georef.RES0 / 2.0)
    half_h = F.col("h").cast("double") * F.lit(georef.RES0 / 2.0)
    return (
        img.withColumn("cx", cx).withColumn("cy", cy)
        .withColumn("xmin", cx - half_w).withColumn("xmax", cx + half_w)
        .withColumn("ymin", cy - half_h).withColumn("ymax", cy + half_h)
    )


def _median_ratio(counts: list[int]) -> float:
    return max(counts) / statistics.median(counts) if counts else 0.0


class Workload:
    name = ""
    min_timed_reps = 3
    warmup_s = (0.0, 10.0)  # (min, max) seconds of warm-up reps

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.parts = 2 * nproc

    def write_inputs(self, spark: SparkSession, seed: int, root: str) -> dict[str, str]:
        raise NotImplementedError

    def load(self, spark: SparkSession, paths: dict[str, str]) -> dict:
        return {k: spark.read.parquet(p) for k, p in paths.items()}

    def rep(self, spark: SparkSession, inp: dict, work: str) -> tuple:
        raise NotImplementedError

    def items(self, answer: tuple) -> int:
        raise NotImplementedError

    def trace(self, spark, inp, paths, tracer, work, answer) -> dict:
        raise NotImplementedError


def scan_layer(spark, tracer, path: str) -> None:
    with phase(spark, "trace.scan"), tracer.span("scan.read_parquet"):
        noop(spark.read.parquet(path))


# ---------------------------------------------------------------------------
# join_tile_skewed
# ---------------------------------------------------------------------------

class JoinTileSkewed(Workload):
    """The flagship path over skewed images: PIP join vs zones, z12 tile
    assignment, per-tile counts. Mostly JVM work."""

    name = "join_tile_skewed"
    # the JIT keeps shortening reps for about ten of them
    warmup_s = (10.0, 20.0)

    def __init__(self, nproc: int, n_images: int = 1 << 17, n_zones: int = 10_000, n_sites: int = 5_000):
        super().__init__(nproc)
        self.n_images = n_images
        self.n_zones = n_zones
        self.n_sites = n_sites

    def write_inputs(self, spark, seed, root):
        paths = {"images": f"{root}/images", "zones": f"{root}/zones", "sites": f"{root}/sites"}
        skewed_images(id_range(spark, seed, self.n_images, self.parts)).write.parquet(paths["images"])
        build_zones(spark, ids_df=id_range(spark, seed, self.n_zones, self.nproc, "fid")).write.parquet(paths["zones"])
        # the kNN layer is traced on these images (see trace)
        build_sites(spark, ids_df=id_range(spark, seed, self.n_sites, self.nproc, limit=SITE_ID_LIMIT)).write.parquet(paths["sites"])
        return paths

    def rep(self, spark, inp, work):
        pairs = pip_join(inp["images"], inp["zones"]).count()
        tiles = tile_counts(assign_tiles(inp["images"], TILE_ZOOM)).count()
        return (pairs, tiles)

    def items(self, answer):
        return self.n_images

    def trace(self, spark, inp, paths, tracer, work, answer):
        images, zones = inp["images"], inp["zones"]
        with tracer.span("rep"):
            scan_layer(spark, tracer, paths["images"])
            with tracer.span("spatial_join.zone_edges"):
                noop(zone_edges(zones))
            with tracer.span("spatial_join.pip_join"):
                noop(pip_join(images, zones))
            with tracer.span("tiling.tile_counts"):
                noop(tile_counts(assign_tiles(images, TILE_ZOOM)))
        # fan-out counts along pip_join's candidate -> refine ladder
        zb = ("zxmin", "zymin", "zxmax", "zymax")
        zn = with_bbox_cells(zones.select("fid", *zb), *zb)
        pts = with_point_cell(images, "lon_c", "lat_c").select("image_id", "lon_c", "lat_c", "cell")
        in_bbox = (
            (F.col("lon_c") >= F.col("zxmin")) & (F.col("lon_c") <= F.col("zxmax"))
            & (F.col("lat_c") >= F.col("zymin")) & (F.col("lat_c") <= F.col("zymax"))
        )
        cand = pts.join(zn, "cell")
        n_cand, n_surv = cand.agg(F.count("*"), F.sum(in_bbox.cast("long"))).first()
        edges = zone_edges(zones)
        edge_rows = (
            cand.where(in_bbox).select("image_id", "lon_c", "lat_c", "fid")
            .join(F.broadcast(edges), F.col("fid") == F.col("_zk")).count()
        )
        cell_sizes = [r[0] for r in pts.groupBy("cell").count().select("count").collect()]
        pairs, tiles = answer
        return {
            **knn_layer(spark, inp["sites"], images, tracer),
            "spatial_join.zone_cells": zn.count(),
            "spatial_join.cell_candidates": n_cand,
            "spatial_join.bbox_survivors": n_surv,
            "spatial_join.zone_edges": edges.count(),
            "spatial_join.zone_edges_s": tracer.total("spatial_join.zone_edges"),
            "spatial_join.edge_rows": edge_rows,
            "spatial_join.pairs": pairs,
            "spatial_join.refine_yield": pairs / n_cand if n_cand else 0.0,
            "spatial_join.hot_cell_ratio": _median_ratio(cell_sizes),
            "spatial_join.self_s": tracer.total("spatial_join.pip_join", "self"),
            "tiling.tile_rows": assign_tiles(images, TILE_ZOOM).count(),
            "tiling.distinct_tiles": tiles,
            "tiling.self_s": tracer.total("tiling.tile_counts", "self"),
        }


# ---------------------------------------------------------------------------
# render_pyramid
# ---------------------------------------------------------------------------

@contextlib.contextmanager
def decoded_render():
    """Make build_pyramid render from the decoded payloads
    (render_tiles(decode_payload=True)) instead of the synthetic pixel
    formula: build_pyramid looks render_tiles up in its module."""
    orig = render.render_tiles
    render.render_tiles = functools.partial(orig, decode_payload=True)
    try:
        yield
    finally:
        render.render_tiles = orig


@contextlib.contextmanager
def traced_commits(tracer):
    """Open a span around every ResumableWriter.run call made inside."""
    orig = scale.ResumableWriter.run

    def run(self, work, job_run_id=None):
        with tracer.span("scale.ResumableWriter.run") as s:
            m = orig(self, work, job_run_id)
            s.counts["rows"] = int(m["rows"])
        return m

    scale.ResumableWriter.run = run
    try:
        yield
    finally:
        scale.ResumableWriter.run = orig


TILE_OFFSET = 0.37


def pinned_footprints(images: DataFrame, z: int = TILE_ZOOM) -> DataFrame:
    """Move each footprint so its top-left corner sits TILE_OFFSET tiles
    inside its own z-tile. A footprint then covers the same number of
    tiles on every seed (a 512 px image always covers 3 x 3), so the
    seed moves pixels and places but not the decode count."""
    span = tm.resolution(z) * tm.TILE_SIZE
    o = F.lit(tm.ORIGIN)
    tx = F.floor((F.col("xmin") + o) / span)
    ty = F.floor((o - F.col("ymax")) / span)
    xmin = tx * span - o + F.lit(TILE_OFFSET * span)
    ymax = o - (ty + F.lit(TILE_OFFSET)) * span
    return (
        images.drop("lon_c", "lat_c", "cx", "cy")
        .withColumn("xmin", xmin)
        .withColumn("ymax", ymax)
        .withColumn("xmax", F.col("xmin") + F.col("w").cast("double") * F.lit(georef.RES0))
        .withColumn("ymin", F.col("ymax") - F.col("h").cast("double") * F.lit(georef.RES0))
    )


class RenderPyramid(Workload):
    """Decoded PNG/JPEG/TIFF payloads rendered at z12, z11-z10 overviews,
    every level committed. Bound by Python UDFs."""

    name = "render_pyramid"

    Z_MAX, Z_MIN = TILE_ZOOM, 10
    # AQE coalesces each level's shuffle into one task, so one core
    # renders the whole level and a rep follows that core's speed, about
    # 10% apart rep to rep on a shared host; 6 reps steady the median
    # and keep a run near a minute
    min_timed_reps = 6

    # The fixture rotates size by i % 5 and format by i % 3, so one
    # 15-id cycle holds every (size, format) pair once. A rep renders one
    # whole cycle less the 512 px JPEG (i % 15 == 4): its nine covering-
    # tile decodes alone take about 5 s on one core, which would push a
    # run past the benchmark's time budget.
    CYCLE, SKIPPED = 15, 4

    def __init__(self, nproc: int, n_images: int = 14):
        super().__init__(nproc)
        self.n_images = n_images

    def write_inputs(self, spark, seed, root):
        path = f"{root}/images"
        cycles = -(-self.n_images // (self.CYCLE - 1))
        ids = id_range(spark, seed, cycles * self.CYCLE, self.nproc)
        ids = ids.where(F.col("i") % self.CYCLE != self.SKIPPED).limit(self.n_images)
        images = build_images(spark, ids_df=ids, with_payload=True)
        pinned_footprints(images).write.parquet(path)
        return {"images": path}

    def _pyramid(self, spark, images, out_dir) -> tuple:
        with decoded_render():
            levels = render.build_pyramid(images, self.Z_MAX, self.Z_MIN, out_dir=out_dir)
        answer = []
        for z in sorted(levels, reverse=True):
            n, s = levels[z].agg(F.count("*"), F.sum("checksum")).first()
            answer.append((z, int(n), int(s)))
        return tuple(answer)

    def rep(self, spark, inp, work):
        out = os.path.join(work, "pyramid")
        shutil.rmtree(out, ignore_errors=True)
        try:
            return self._pyramid(spark, inp["images"], out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def items(self, answer):
        return answer[0][1] // render.BANDS

    def trace(self, spark, inp, paths, tracer, work, answer):
        images = inp["images"]
        out = os.path.join(work, "pyramid")
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("rep"):
            scan_layer(spark, tracer, paths["images"])
            decode_ms = self._decode_sample(images, tracer)
            with tracer.span("render.render_tiles"):
                noop(render.render_tiles(images, self.Z_MAX, with_data=True, decode_payload=True))
            with tracer.span("render.build_pyramid") as pyr, traced_commits(tracer):
                self._pyramid(spark, images, out)
            base_dir = os.path.join(work, "recommit")
            shutil.rmtree(base_dir, ignore_errors=True)
            with tracer.span("scale.ResumableWriter.run") as commit:
                w = scale.ResumableWriter(spark, base_dir, keys=["tile_x", "tile_y", "band"])
                rows = int(w.run(spark.read.parquet(f"{out}/z={self.Z_MAX}"))["rows"])
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(base_dir, ignore_errors=True)
        commits = tracer.children(pyr.span_id)
        covering = render.covering_tiles(images, self.Z_MAX).count()
        return {
            "render.tiles": self.items(answer),
            "render.base_s": tracer.total("render.render_tiles"),
            "render.overview_s": sum(c.duration for c in commits[1:]),
            "render.covering_per_image": covering / self.n_images,
            "render.self_s": tracer.self_time(pyr.span_id),
            **decode_ms,
            "scale.commit_s": commit.duration,
            "scale.rows_committed": rows,
        }

    def _decode_sample(self, images, tracer) -> dict:
        """Median decode_image time per blob, per format, over every
        blob of the input (a fixed sample: whole fixture cycles)."""
        blobs = images.select("fmt", "bytes").orderBy("i").collect()
        per_fmt: dict[str, list[float]] = {}
        with tracer.span("codecs.decode_image"):
            for r in blobs:
                data = bytes(r["bytes"])
                t0 = time.perf_counter()
                decode_image(data, r["fmt"])
                per_fmt.setdefault(r["fmt"], []).append(1000.0 * (time.perf_counter() - t0))
        return {f"codecs.decode_ms_{f}": statistics.median(v) for f, v in sorted(per_fmt.items())}


# ---------------------------------------------------------------------------
# knn_sites
# ---------------------------------------------------------------------------

class KnnSites(Workload):
    """k nearest images per site: multi-pass planning, eager jobs, caches,
    window re-rank. No edge refine, no Python."""

    name = "knn_sites"

    K = 5

    def __init__(self, nproc: int, n_images: int = 1 << 17, n_sites: int = 5_000):
        super().__init__(nproc)
        self.n_images = n_images
        self.n_sites = n_sites

    def write_inputs(self, spark, seed, root):
        paths = {"images": f"{root}/images", "sites": f"{root}/sites"}
        skewed_images(id_range(spark, seed, self.n_images, self.parts)).write.parquet(paths["images"])
        build_sites(spark, ids_df=id_range(spark, seed, self.n_sites, self.nproc, limit=SITE_ID_LIMIT)).write.parquet(paths["sites"])
        return paths

    def rep(self, spark, inp, work):
        out = knn_join(inp["sites"], inp["images"], self.K)
        n, s = out.agg(F.count("*"), F.sum(F.floor("dist_m"))).first()
        return (int(n), int(s))

    def items(self, answer):
        return self.n_sites

    def trace(self, spark, inp, paths, tracer, work, answer):
        with tracer.span("rep"):
            scan_layer(spark, tracer, paths["images"])
            return knn_layer(spark, inp["sites"], inp["images"], tracer)


def knn_layer(spark, sites, images, tracer, k: int = KnnSites.K) -> dict:
    """One traced knn_join call, its output materialized, with the jobs
    it launched and the RDDs it left persisted."""
    before = persisted_rdd_ids(spark)
    obs = Observation("knn_rows")
    with phase(spark, "trace.knn"), tracer.span("knn.knn_join") as s:
        out = knn_join(sites, images, k)
        eager = jobs_in_phase(spark, "trace.knn")
        noop(out.observe(obs, F.count(F.lit(1)).alias("rows")))
    jobs = jobs_in_phase(spark, "trace.knn")
    cached = restore_caches(spark, before)
    return {
        "knn.jobs_per_call": jobs,
        "knn.eager_jobs": eager,
        "knn.cached_after_call": cached,
        "knn.rows_out": obs.get["rows"],
        "knn.self_s": tracer.self_time(s.span_id),
    }


WORKLOADS = {w.name: w for w in (JoinTileSkewed, RenderPyramid, KnnSites)}
