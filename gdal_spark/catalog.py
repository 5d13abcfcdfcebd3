"""Catalog shim: Iceberg table catalog when the runtime is on the
classpath, plain parquet snapshot directories otherwise.

The engine's checkpoint/resume contract (operators/scale.py) needs
three operations — read a table, append to it, and name the current
committed snapshot. On a real cluster those map onto an Iceberg
catalog (`df.writeTo(ident).append()`, time-travel snapshot ids from
the `.snapshots` metadata table); in environments without the
Iceberg jars (this sandbox) the same contract runs on parquet
directories with an explicit `_snapshots/` commit-marker log, so
`source_snapshot_id` lineage is a REAL, monotonically-advancing
commit id on both backends.

Pick a backend with `get_catalog(spark, warehouse)`; everything
downstream is backend-agnostic.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


class ParquetCatalog:
    """Parquet-directory tables under a warehouse dir with an
    explicit commit log: every append writes a `_snapshots/<seq>-
    <uuid>` marker, and `snapshot_id` is the latest marker name."""

    backend = "parquet"

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def _path(self, ident: str) -> str:
        if not ident or ident == ".":
            return self.warehouse  # path-addressed table
        return os.path.join(self.warehouse, *ident.split("."))

    def read(self, ident: str) -> DataFrame | None:
        """The committed table, or None when nothing is committed: no
        table directory, or only `_`/`.`-prefixed entries in it (the
        snapshot log, a failed write's `_temporary`). That is decided
        without Spark; any error reading a committed table raises."""
        path = self._path(ident)
        try:
            names = os.listdir(path)
        except FileNotFoundError:
            return None
        if all(n.startswith(("_", ".")) for n in names):
            return None
        return self.spark.read.parquet(path)

    def append(self, df: DataFrame, ident: str) -> str:
        path = self._path(ident)
        df.write.mode("append").parquet(path)
        snap_dir = os.path.join(path, "_snapshots")
        os.makedirs(snap_dir, exist_ok=True)
        marker = f"{int(time.time() * 1000):016d}-{uuid.uuid4().hex[:12]}"
        with open(os.path.join(snap_dir, marker), "w") as fh:
            fh.write("")
        return marker

    def snapshot_id(self, ident: str) -> str:
        snap_dir = os.path.join(self._path(ident), "_snapshots")
        try:
            names = sorted(os.listdir(snap_dir))
        except OSError:
            return ""
        return names[-1] if names else ""


class IcebergCatalog:
    """Iceberg-backed tables addressed as catalog.db.table idents;
    snapshot ids come from the table's `.snapshots` metadata."""

    backend = "iceberg"

    def __init__(self, spark: SparkSession, prefix: str = "local"):
        self.spark = spark
        self.prefix = prefix

    def _ident(self, ident: str) -> str:
        return ident if "." in ident else f"{self.prefix}.{ident}"

    def read(self, ident: str) -> DataFrame | None:
        try:
            return self.spark.read.table(self._ident(ident))
        except Exception:
            return None

    def append(self, df: DataFrame, ident: str) -> str:
        full = self._ident(ident)
        try:
            df.writeTo(full).append()
        except Exception:
            # first write: create the table from this dataframe
            df.writeTo(full).create()
        return self.snapshot_id(ident)

    def snapshot_id(self, ident: str) -> str:
        full = self._ident(ident)
        try:
            row = (
                self.spark.sql(
                    f"SELECT snapshot_id FROM {full}.snapshots "
                    "ORDER BY committed_at DESC LIMIT 1"
                ).collect()
            )
            return str(row[0][0]) if row else ""
        except Exception:
            return ""


def get_catalog(spark: SparkSession, warehouse: str, prefix: str = "local"):
    """Iceberg when the runtime is present, parquet otherwise."""
    if iceberg_available(spark):
        return IcebergCatalog(spark, prefix)
    return ParquetCatalog(spark, warehouse)
