"""KML SuperOverlay sink/reader — frmts/kmlsuperoverlay/.

The reference (kmlsuperoverlaydataset.cpp) writes a Google-Earth
streaming pyramid: a root ``doc.kml`` whose NetworkLink points at
``0/0/0.kml`` with a Region+Lod gate (:206-225), and one
``{z}/{x}/{y}.kml`` per tile containing a Region/Lod block
(minLodPixels 128, :283-355), a GroundOverlay whose ``href`` is the
sibling image ``{y}.png`` and whose LatLonBox carries the tile's
WGS84 bounds (:338-365), plus NetworkLinks to the four children at
``../../{z+1}/{cx}/{cy}.kml`` (:430-445).

Spark-first: tiles and their KML wrappers are plain files in the
same ``{z}/{x}/{y}`` tree the gdal2tiles sink already writes, so the
writer rides write_tile_tree (executor-side file writes, no driver
funnel) and the reader is a binaryFile scan over ``*.kml`` parsing
the GroundOverlay boxes — one task per file, the format's natural
parallel unit.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["kml_superoverlay_entries", "write_kml_superoverlay",
           "read_kml_superoverlay"]

_KML_NS = "http://www.opengis.net/kml/2.2"


def _tile_kml(z: int, x: int, y: int, fmt: str,
              west: float, south: float, east: float, north: float,
              max_z: int) -> str:
    links = []
    if z < max_z:
        for cy in (2 * y, 2 * y + 1):
            for cx in (2 * x, 2 * x + 1):
                links.append(
                    f"<NetworkLink><name>{z+1}/{cx}/{cy}</name>"
                    f"<Link><href>../../{z+1}/{cx}/{cy}.kml</href>"
                    "<viewRefreshMode>onRegion</viewRefreshMode>"
                    "</Link></NetworkLink>"
                )
    box = (f"<north>{north!r}</north><south>{south!r}</south>"
           f"<east>{east!r}</east><west>{west!r}</west>")
    return (
        f'<kml xmlns="{_KML_NS}"><Document>'
        f"<name>{z}/{x}/{y}.kml</name>"
        f"<Region><LatLonAltBox>{box}</LatLonAltBox>"
        "<Lod><minLodPixels>128</minLodPixels>"
        "<maxLodPixels>-1</maxLodPixels></Lod></Region>"
        f"<GroundOverlay><drawOrder>{z}</drawOrder>"
        f"<Icon><href>{y}.{fmt}</href></Icon>"
        f"<LatLonBox>{box}</LatLonBox></GroundOverlay>"
        + "".join(links)
        + "</Document></kml>"
    )


def kml_superoverlay_entries(tiles: DataFrame, fmt: str = "png"
                             ) -> DataFrame:
    """(tile_z, tile_x, tile_y XYZ, payload) -> (path, payload) rows
    for BOTH the image files and their KML wrappers — feed to
    write_tile_tree."""
    from pyspark.sql import types as T2

    max_z = tiles.agg(F.max("tile_z")).first()[0] or 0
    schema = T2.StructType(
        [
            T2.StructField("path", T2.StringType()),
            T2.StructField("payload", T2.BinaryType()),
        ]
    )

    def gen(batches):
        from gdal_spark.tiles import tilemath as tm

        for pdf in batches:
            recs = []
            for z, x, y, payload in zip(
                pdf["tile_z"], pdf["tile_x"], pdf["tile_y"],
                pdf["payload"]
            ):
                z, x, y = int(z), int(x), int(y)
                w, s, e, n = tm.tile_bounds_deg(z, x, y)
                recs.append(
                    {"path": f"{z}/{x}/{y}.{fmt}",
                     "payload": bytes(payload)}
                )
                recs.append(
                    {
                        "path": f"{z}/{x}/{y}.kml",
                        "payload": _tile_kml(
                            z, x, y, fmt, w, s, e, n, int(max_z)
                        ).encode("utf-8"),
                    }
                )
            yield pd.DataFrame(recs, columns=["path", "payload"])

    return tiles.mapInPandas(gen, schema)


def write_kml_superoverlay(tiles: DataFrame, out_dir: str,
                           fmt: str = "png") -> int:
    """Write the full SuperOverlay tree (+ root doc.kml); returns the
    number of files written."""
    import os

    from gdal_spark.operators.render import write_tile_tree

    n = write_tile_tree(kml_superoverlay_entries(tiles, fmt), out_dir)
    # root at a tile that was written: the first by (z, x, y), not the
    # per-column minima (an L-shaped level has no tile at (min x, min y))
    root = tiles.select("tile_z", "tile_x", "tile_y").orderBy(
        "tile_z", "tile_x", "tile_y"
    ).first()
    os.makedirs(out_dir, exist_ok=True)
    z0, x0, y0 = (int(v) for v in root) if root is not None else (0, 0, 0)
    doc = (
        f'<kml xmlns="{_KML_NS}"><Document>'
        "<NetworkLink><open>1</open>"
        "<Region><Lod><minLodPixels>128</minLodPixels>"
        "<maxLodPixels>-1</maxLodPixels></Lod></Region>"
        f"<Link><href>{z0}/{x0}/{y0}.kml</href>"
        "<viewRefreshMode>onRegion</viewRefreshMode></Link>"
        "</NetworkLink></Document></kml>"
    )
    with open(os.path.join(out_dir, "doc.kml"), "w") as fh:
        fh.write(doc)
    return n + 1


_READ_SCHEMA = T.StructType(
    [
        T.StructField("tile_z", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("href", T.StringType()),
        T.StructField("west", T.DoubleType()),
        T.StructField("south", T.DoubleType()),
        T.StructField("east", T.DoubleType()),
        T.StructField("north", T.DoubleType()),
        T.StructField("n_children", T.IntegerType()),
    ]
)


def read_kml_superoverlay(spark: SparkSession, root: str) -> DataFrame:
    """Distributed scan of the per-tile KMLs: parse each
    GroundOverlay's LatLonBox + child NetworkLinks."""
    import os
    import re

    rx = re.compile(r"(\d+)/(\d+)/(\d+)\.kml$")
    pattern = os.path.join(root, "*", "*", "*.kml")

    def parse(batches):
        ns = {"k": _KML_NS}
        for pdf in batches:
            recs = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = rx.search(str(path))
                if m is None:
                    continue
                z, x, y = (int(g) for g in m.groups())
                doc = ET.fromstring(bytes(content))
                box = doc.find(".//k:GroundOverlay/k:LatLonBox", ns)
                href = doc.find(".//k:GroundOverlay/k:Icon/k:href", ns)
                kids = doc.findall(".//k:NetworkLink", ns)
                recs.append(
                    {
                        "tile_z": z, "tile_x": x, "tile_y": y,
                        "href": href.text if href is not None else None,
                        "west": float(box.findtext("k:west", None, ns)),
                        "south": float(box.findtext("k:south", None, ns)),
                        "east": float(box.findtext("k:east", None, ns)),
                        "north": float(box.findtext("k:north", None, ns)),
                        "n_children": len(kids),
                    }
                )
            yield pd.DataFrame(
                recs, columns=[f.name for f in _READ_SCHEMA.fields]
            )

    raw = spark.read.format("binaryFile").load(pattern).select(
        "path", "content"
    )
    return raw.mapInPandas(parse, _READ_SCHEMA)
