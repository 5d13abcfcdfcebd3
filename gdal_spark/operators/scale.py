"""Scale hygiene: skew salting, checkpoint/resume, lineage, metrics.

North-rule obligations (BASELINE.json): partitioning / shuffle / skew
handled explicitly; pipeline resumable from committed snapshots with
per-partition lineage + metrics.

Reference semantics being mirrored:
- resume = skip work whose output already exists
  (apps/gdalalg_raster_tile.cpp:377,522; gdal2tiles.py:2846)
  -> left_anti join against the committed-keys snapshot.
- GDAL never faces data skew (uniform 256^2 tiles); skew is OUR
  problem at 10^12 rows: zipf-hot cells -> salted two-phase
  aggregation (partial per (key, salt), merge per key). Works for
  any associative-commutative merge; AQE skew splitting covers the
  join path.
- progress callbacks (GDALProgressFunc) -> df.observe metrics +
  a per-partition metrics table.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Skew salting
# ---------------------------------------------------------------------------

def with_salt(df: DataFrame, keys: list[str], buckets: int, row_hash_cols: list[str] | None = None) -> DataFrame:
    """Uniform salt in [0, buckets): deterministic from row content
    (never rand() — resume and retries must be stable)."""
    hcols = row_hash_cols or df.columns
    return df.withColumn("_salt", F.pmod(F.xxhash64(*[F.col(c) for c in hcols]), F.lit(buckets)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    buckets: int = 16,
    row_hash_cols: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial aggregate per
    (keys..., salt) then final merge per keys.

    `aggs` maps column -> one of sum|count|min|max (associative merges
    only). Catalyst already does map-side partial aggregation for
    these; explicit salting matters when a downstream applyInPandas /
    exact-grouping step would otherwise see one giant group.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    partial_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    salted = with_salt(df, keys, buckets, row_hash_cols)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[partial_fn[how](c).alias(f"_p_{c}") for c, how in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[how](f"_p_{c}").alias(c) for c, how in aggs.items()]
    )


def hot_keys(df: DataFrame, keys: list[str], threshold: int) -> DataFrame:
    """Detect keys whose group size exceeds `threshold` (the salt
    trigger; FIXTURES.md zipf hotspots exercise this)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > threshold)
    )


# ---------------------------------------------------------------------------
# Checkpoint / resume (parquet snapshot directories; an Iceberg
# catalog drops in by swapping read/write paths for table idents)
# ---------------------------------------------------------------------------

def pending_work(work: DataFrame, done: DataFrame | None, keys: list[str]) -> DataFrame:
    """The resume anti-join: drop work whose keys are committed."""
    if done is None:
        return work
    return work.join(done, on=keys, how="left_anti")


def with_lineage(df: DataFrame, job_run_id: str | None = None, source_snapshot: str = "") -> DataFrame:
    """Per-row lineage: job run id, producing partition, source tag."""
    rid = job_run_id or uuid.uuid4().hex
    return (
        df.withColumn("job_run_id", F.lit(rid))
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("source_snapshot_id", F.lit(source_snapshot))
    )


class ResumableWriter:
    """Checkpoint-commit loop: each call renders only keys not yet in
    the committed snapshot, appends results with lineage columns, and
    records per-run metrics (rows, partitions, wall ms).

    Storage goes through the catalog shim (gdal_spark/catalog.py):
    Iceberg `writeTo` + real snapshot ids when the runtime is on the
    classpath, parquet snapshot dirs with a commit-marker log
    otherwise. `source_snapshot_id` on every appended row names the
    snapshot the resume decision was based on — the lineage needed
    to audit which committed state a partition was derived from."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        keys: list[str],
        catalog=None,
        ident: str | None = None,
    ):
        from gdal_spark.catalog import ParquetCatalog

        self.spark = spark
        self.keys = keys
        if catalog is None:
            # path-based back-compat: the dir IS the table
            catalog = ParquetCatalog(spark, out_dir)
            ident = "."
        self.catalog = catalog
        self.ident = ident if ident is not None else out_dir
        self.metrics: list[dict] = []

    def run(self, work: DataFrame, job_run_id: str | None = None) -> dict:
        t0 = time.time()
        base_snapshot = self.catalog.snapshot_id(self.ident)
        existing = self.catalog.read(self.ident)
        done = (
            existing.select(*self.keys).dropDuplicates(self.keys)
            if existing is not None
            else None
        )
        todo = pending_work(work, done, self.keys)
        obs = Observation("resume_run")
        todo = todo.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct(
                F.concat_ws("\x00", *[F.col(k).cast("string") for k in self.keys])
            ).alias("distinct_keys"),
        )
        out = with_lineage(todo, job_run_id, source_snapshot=base_snapshot)
        new_snapshot = self.catalog.append(out, self.ident)
        m = dict(obs.get)
        m["wall_ms"] = int((time.time() - t0) * 1000)
        m["base_snapshot_id"] = base_snapshot
        m["snapshot_id"] = new_snapshot
        self.metrics.append(m)
        return m
