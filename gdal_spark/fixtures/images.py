"""Materialize the synthetic images table (BASELINE.json input_hint
shape): (image_id, bytes, w, h, fmt, caption, phash) + derived geo.

Pixel payloads are generated and encoded inside `mapInPandas`
workers — Arrow-batched, no per-row Python UDFs, no driver-side
loops; generation parallelism scales with Spark tasks exactly like
production decode would.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.fixtures import georef
from gdal_spark.raster.codecs import encode_image

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _gen_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gdal_spark.fixtures.georef import JPEG_QUALITY, np_image_pixels, np_phash

    for pdf in batches:
        out_bytes = []
        out_phash = []
        for i, w, h, fmt in zip(pdf["i"], pdf["w"], pdf["h"], pdf["fmt"]):
            arr = np_image_pixels(int(i), int(w), int(h))
            out_bytes.append(encode_image(arr, fmt, quality=JPEG_QUALITY))
            out_phash.append(np_phash(arr))
        yield pd.DataFrame({"i": pdf["i"], "bytes": out_bytes, "phash": out_phash})


def build_images(
    spark: SparkSession,
    n: int | None = None,
    ids_df: DataFrame | None = None,
    with_payload: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Images table from `spark.range(n)` or a caller-supplied id frame
    (column `i`). Geo columns are pure Column math; payloads are
    optional (tile/join benchmarks don't need pixel bytes)."""
    if ids_df is None:
        assert n is not None
        ids_df = spark.range(n).withColumnRenamed("id", "i")
    if num_partitions:
        ids_df = ids_df.repartition(num_partitions)
    geo = georef.with_image_geo(ids_df, "i")
    if not with_payload:
        return geo
    payloads = geo.select("i", "w", "h", "fmt").mapInPandas(
        _gen_payloads, schema=_PAYLOAD_SCHEMA
    )
    return geo.join(payloads, "i")
