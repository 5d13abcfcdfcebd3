"""Database vector source: JDBC-style partitioned reads with
predicate + column pushdown.

Re-derives the read-side contract of the reference's live-database
vector drivers (/root/reference/ogr/ogrsf_frmts/pg/ogrpgdatasource.cpp
layer scans: SetAttributeFilter pushes the WHERE clause into the
server query, SetIgnoredFields prunes the SELECT list, features
arrive fid-ordered per cursor) expressed as Spark's JDBC DataSource
option surface (partitionColumn / lowerBound / upperBound /
numPartitions / predicates / pushed filter / pruned columns).

Partition-clause generation mirrors Spark's JDBCRelation
columnPartition semantics (public API contract): `numPartitions`
stride ranges over [lowerBound, upperBound] on an integral
`partition_column`, first partition catching `< low OR IS NULL`, last
catching `>= high`, so every row lands in exactly one partition
regardless of the bounds being tight.

The engine behind the URL is a DBAPI driver opened INSIDE each task
(one cursor per partition — the JDBC executor model).  In-container
the only live engine is sqlite/SpatiaLite (`sqlite:///path`), which
stands in for PostGIS: no database server exists in this sandbox
(SURVEY §11.3), but the partitioning, pushdown, and geometry-blob
handling are engine-agnostic — a server engine only changes the
`connect()` line.  Geometry columns declared in `geometry_columns`
are unwrapped from SpatiaLite blobs to WKB, the PG driver's
ST_AsBinary analog.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.sources.spatialite import splite_blob_to_wkb

__all__ = ["read_db", "partition_clauses"]


def partition_clauses(
    column: str,
    lower: int,
    upper: int,
    num_partitions: int,
) -> list[str]:
    """Spark JDBCRelation.columnPartition's clause set: stride ranges,
    open-ended first/last partitions, NULLs in the first."""
    if num_partitions <= 1 or lower >= upper:
        return ["1=1"]
    stride = (upper - lower) // num_partitions or 1
    clauses = []
    cur = lower + stride
    prev = None
    for i in range(num_partitions):
        last = i == num_partitions - 1
        if i == 0:
            clauses.append(f'"{column}" < {cur} OR "{column}" IS NULL')
        elif last:
            clauses.append(f'"{column}" >= {prev}')
        else:
            clauses.append(f'"{column}" >= {prev} AND "{column}" < {cur}')
        prev = cur
        cur += stride
    return clauses


def _connect(url: str):
    if url.startswith("sqlite:///"):
        path = url[len("sqlite:///"):]
        return sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    raise ValueError(
        f"db: no driver for {url!r} (only sqlite:/// is live in this "
        "environment; server engines plug in at this connect() seam)")


def read_db(
    spark: SparkSession,
    url: str,
    table: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """Partitioned database scan -> DataFrame.

    - `columns` prunes the SELECT list (geometry columns unwrap to
      WKB); None = all table columns.
    - `predicate` is pushed verbatim into every partition's WHERE —
      the engine, not Spark, filters (SetAttributeFilter semantics).
    - `partition_column` (integral) splits the scan into
      `num_partitions` stride ranges; bounds are auto-computed with
      one min/max query when not given (OGR computes extents the same
      way).  Without it the read is a single partition.
    """
    con = _connect(url)
    cur = con.cursor()
    info = cur.execute(f'PRAGMA table_info("{table}")').fetchall()
    if not info:
        con.close()
        raise ValueError(f"db: no such table {table!r}")
    geom_cols = set()
    try:
        geom_cols = {
            r[0] for r in cur.execute(
                "SELECT f_geometry_column FROM geometry_columns "
                "WHERE f_table_name = ?", (table,)).fetchall()
        }
    except sqlite3.OperationalError:
        pass          # plain database without spatial metadata
    decl_of = {name: (decl or "").upper() for _c, name, decl, *_ in info}
    all_names = [name for _c, name, *_ in info]
    names = list(columns) if columns is not None else all_names
    unknown = [n for n in names if n not in decl_of]
    if unknown:
        con.close()
        raise ValueError(f"db: unknown columns {unknown}")

    fields = []
    for n in names:
        decl = decl_of[n]
        if n in geom_cols:
            fields.append(T.StructField(n, T.BinaryType()))
        elif decl.startswith("INT"):
            fields.append(T.StructField(n, T.LongType()))
        elif decl in ("REAL", "DOUBLE", "FLOAT"):
            fields.append(T.StructField(n, T.DoubleType()))
        elif decl == "BLOB":
            fields.append(T.StructField(n, T.BinaryType()))
        else:
            fields.append(T.StructField(n, T.StringType()))
    schema = T.StructType(fields)

    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            where = f" WHERE {predicate}" if predicate else ""
            lo, hi = cur.execute(
                f'SELECT min("{partition_column}"), '
                f'max("{partition_column}") FROM "{table}"{where}'
            ).fetchone()
            lower_bound = lo if lower_bound is None else lower_bound
            upper_bound = hi if upper_bound is None else upper_bound
        if lower_bound is None or upper_bound is None:
            # empty table / all-NULL partition column (either bound
            # may still be None when the caller supplied the other)
            con.close()
            return spark.createDataFrame([], schema)
        clauses = partition_clauses(
            partition_column, int(lower_bound), int(upper_bound),
            num_partitions)
    else:
        clauses = ["1=1"]
    con.close()

    collist = ", ".join(f'"{n}"' for n in names)
    push = f" AND ({predicate})" if predicate else ""
    cdf = spark.createDataFrame(
        [(c,) for c in clauses], "clause string"
    ).repartition(len(clauses))
    gset = {n for n in names if n in geom_cols}

    def scan(batches):
        for pdf in batches:
            for clause in pdf["clause"]:
                c = _connect(url)
                rows = c.execute(
                    f'SELECT {collist} FROM "{table}" '
                    f"WHERE ({clause}){push}"
                ).fetchall()
                c.close()
                recs = []
                for row in rows:
                    rec = dict(zip(names, row))
                    for g in gset:
                        if rec[g] is not None:
                            rec[g] = splite_blob_to_wkb(rec[g])
                    recs.append(rec)
                yield pd.DataFrame(recs, columns=names)

    return cdf.mapInPandas(scan, schema)
