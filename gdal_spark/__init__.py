"""gdal_spark — a PySpark-native spatial-join + tiling engine.

Reimplements the core raster<->vector semantics of GDAL (reference:
/root/reference, GDAL 3.12.0dev) as idiomatic PySpark DataFrame
operators: WebMercator tile math as Column expressions, point-in-
polygon joins with the FilterGeometry ladder, kNN via cell-ring
candidates + window re-rank, rasterize burn-in, format decode, and
GDAL-checksum parity — plus the large-scale training-data operators
(dedup, ANN, text analysis) a 100 TB pipeline needs.

Architecture: DataFrame/Catalyst first. Closed-form geo math lives in
native Column expressions (whole-stage codegen); geometry refinement
and pixel work live in vectorized pandas/Arrow UDFs (mapInPandas /
applyInPandas). No per-row Python UDFs anywhere.
"""

__version__ = "0.1.0"
