"""Driver-contract invariants for __spark_entry__."""

import hashlib
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import __spark_entry__ as entry
from check_oracles import ROWS_ONLY


def test_registry_consistency():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle refers to an existing query
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"
    # every query is oracle-checked, but for the documented rows-only set
    missing = [n for n in qs if n not in oracles and n not in ROWS_ONLY]
    assert not missing, f"queries without oracles: {missing}"


def test_query_order_is_pinned():
    # the driver's correctness artifact samples a prefix of queries():
    # reordering or renaming a query changes what it samples
    names = list(entry.queries())
    assert len(names) == 282
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()[:16]
    assert digest == "3e24ee9ce78bd772"


def test_every_query_def_is_registered_once():
    assert len(set(entry._ORDER)) == len(entry._ORDER)
    defined = {
        n[2:] for n, v in vars(entry).items()
        if n.startswith("q_") and callable(v)
    }
    assert defined == set(entry._ORDER), defined ^ set(entry._ORDER)


def test_every_oracle_def_names_a_query():
    stray = [
        n for n, v in vars(entry).items()
        if n.startswith("_o_") and callable(v) and n[3:] not in entry._ORDER
    ]
    assert not stray, stray


def test_oracle_sql_is_strings():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) >= 3


def test_one_query_runs(spark):
    out = entry.q_tile_counts(spark, entry.SF001)
    assert out.count() > 0


# every render kernel path (3857 near/average/stats/sort order/decoded,
# projected UTM/Albers/polar/Cassini, the kernel resamplers), the
# overview step, the PIP join, every query on the per-image harness
# and every zones write -> read roundtrip, each against its DuckDB
# oracle at sf0.001 with the oracle check's own compare
ORACLED_PATHS = [
    "tile_render", "tile_render_avg", "tile_render_stats",
    "tile_render_sortfield", "tile_render_decoded", "tile_render_utm",
    "tile_render_albers", "tile_render_polar", "tile_render_cassini",
    "tile_render_lanczos", "tile_render_cubicspline", "tile_overview",
    "pip_join",
    # per-image harness (_per_image / _band_checksums)
    "flat_raster_roundtrip", "interlaced_roundtrip", "pds_roundtrip",
    "idrisi_roundtrip", "misc_raster_roundtrip", "hdr_raster_roundtrip",
    "isis3_roundtrip", "grib_roundtrip", "jp2_roundtrip", "lan_roundtrip",
    "vrt_lut", "cog_roundtrip", "cog_compressed", "gif_roundtrip",
    "paletted_roundtrip", "progressive_jpeg", "jp2_reduce", "mrf_roundtrip",
    "raw_fleet2", "raw_fleet3", "dted_roundtrip", "nitf_roundtrip",
    "pcidsk_roundtrip", "hdf4_roundtrip", "usgsdem_roundtrip", "equalize",
    "augment", "hf2_roundtrip", "terragen_roundtrip", "gxf_roundtrip",
    "gtiff_industrial", "gtiff_codec_chunks", "bsb_roundtrip",
    "geotiff_georef", "jp2_georef", "geotiff_edit", "raster_update",
    "info_raster", "jpeg_exif", "exif_strip",
    # zones write -> read (_zones_roundtrip)
    "gpkg_roundtrip", "shp_roundtrip", "fgb_roundtrip", "csv_roundtrip",
    "kml_roundtrip", "pgdump_roundtrip", "gmt_roundtrip", "jml_roundtrip",
    "arrow_roundtrip", "arrows_roundtrip", "gml_roundtrip", "mif_roundtrip",
    "osm_roundtrip", "sozip_roundtrip", "spatialite_roundtrip", "db_scan",
    "topojson_roundtrip", "geoparquet_roundtrip", "geojson_roundtrip",
    "geojsonseq_roundtrip",
]


@pytest.fixture(scope="module")
def sf001_duck():
    import duckdb

    from check_oracles import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{entry.SF001}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED_PATHS)
def test_query_matches_oracle(spark, sf001_duck, name):
    from check_oracles import norm_hash

    got = norm_hash(entry.queries()[name](spark, entry.SF001).toPandas())
    want = norm_hash(sf001_duck.execute(entry.oracle_sql()[name]).df())
    assert got[0] == want[0] and got[2] == want[2], (got, want)


# one raster query on the band-checksum emitter, one on the bare
# per-image harness, one zones roundtrip
PLAIN_DRIVER_QUERIES = ["pds_roundtrip", "equalize", "csv_roundtrip"]


def test_plain_driver_session_runs_worker_closures(spark, tmp_path):
    # the external driver builds a plain SparkSession, from outside the
    # repo and with no PYTHONPATH to it, and imports this module in the
    # driver only.  Workers then cannot import __spark_entry__, so a
    # mapInPandas function that names one of its module-level functions
    # (cloudpickle ships those by reference) fails there, not here.
    want = {
        n: entry.queries()[n](spark, entry.SF001).count()
        for n in PLAIN_DRIVER_QUERIES
    }
    script = tmp_path / "driver.py"
    script.write_text(
        "import json, sys\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__ as entry\n"
        "qs = entry.queries()\n"
        f"got = {{n: qs[n](spark, entry.SF001).count() for n in {PLAIN_DRIVER_QUERIES!r}}}\n"
        "print('COUNTS', json.dumps(got))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    out = [l for l in r.stdout.splitlines() if l.startswith("COUNTS ")]
    assert r.returncode == 0 and out, r.stderr[-3000:]
    assert json.loads(out[0][len("COUNTS "):]) == want
