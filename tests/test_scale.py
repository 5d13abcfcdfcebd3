"""Salting / resume / lineage / metrics tests (north-rule Phase 6)."""

import pytest
from pyspark.sql import functions as F

from gdal_spark.operators import scale


def test_salted_agg_matches_plain(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("k"),
        # zipf-ish: most rows share key 0
        F.when(F.col("id") % 10 < 8, F.lit(0)).otherwise(F.col("id") % 7).alias("hot"),
        (F.col("id") * 3 % 101).alias("v"),
    )
    plain = {
        (r["hot"],): (r["s"], r["n"])
        for r in df.groupBy("hot").agg(F.sum("v").alias("s"), F.count("v").alias("n")).collect()
    }
    salted = {
        (r["hot"],): (r["v"], r["n"])
        for r in scale.salted_agg(
            df.withColumn("n", F.lit(1)), ["hot"], {"v": "sum", "n": "sum"}, buckets=8
        ).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k] == salted[k]


def test_hot_keys_detects_zipf(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(42)).otherwise(F.col("id")).alias("cell")
    )
    hot = scale.hot_keys(df, ["cell"], threshold=100).collect()
    assert len(hot) == 1
    assert hot[0]["cell"] == 42
    assert hot[0]["n"] == 900


def test_resume_anti_join(tmp_path, spark):
    out = str(tmp_path / "tiles")
    work = spark.range(100).select(
        F.col("id").alias("tile"), (F.col("id") * 2).alias("payload")
    )
    writer = scale.ResumableWriter(spark, out, keys=["tile"])
    m1 = writer.run(work, job_run_id="run1")
    assert m1["rows"] == 100
    # second run: everything committed -> zero new rows
    m2 = writer.run(work, job_run_id="run2")
    assert m2["rows"] == 0
    snap = spark.read.parquet(out)
    assert snap.count() == 100
    # partial-failure resume: extended workload re-runs only the delta
    work2 = spark.range(120).select(
        F.col("id").alias("tile"), (F.col("id") * 2).alias("payload")
    )
    m3 = writer.run(work2, job_run_id="run3")
    assert m3["rows"] == 20
    snap = spark.read.parquet(out)
    assert snap.count() == 120
    # lineage columns present and attribute the delta to run3
    run3 = snap.where(F.col("job_run_id") == "run3")
    assert run3.count() == 20
    assert {r["tile"] for r in run3.select("tile").collect()} == set(range(100, 120))
    assert "partition_id" in snap.columns


def test_metrics_recorded(tmp_path, spark):
    out = str(tmp_path / "m")
    writer = scale.ResumableWriter(spark, out, keys=["k"])
    writer.run(spark.range(10).select(F.col("id").alias("k")))
    assert writer.metrics[0]["distinct_keys"] == 10
    assert writer.metrics[0]["wall_ms"] >= 0


def test_catalog_shim_selects_backend(spark, tmp_path):
    from gdal_spark.catalog import (
        IcebergCatalog,
        ParquetCatalog,
        get_catalog,
        iceberg_available,
    )

    cat = get_catalog(spark, str(tmp_path))
    if iceberg_available(spark):
        assert isinstance(cat, IcebergCatalog)
    else:
        assert isinstance(cat, ParquetCatalog)


def test_parquet_catalog_snapshots_advance(spark, tmp_path):
    from gdal_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    assert cat.snapshot_id("t.images") == ""
    s1 = cat.append(spark.range(3).toDF("k"), "t.images")
    assert s1 and cat.snapshot_id("t.images") == s1
    s2 = cat.append(spark.range(3, 6).toDF("k"), "t.images")
    assert s2 > s1 and cat.snapshot_id("t.images") == s2
    assert cat.read("t.images").count() == 6
    assert cat.read("t.absent") is None


def _jobs_started(spark, fn):
    """(fn(), ids of the Spark jobs fn started)."""
    sc = spark.sparkContext
    group = "catalog-read-probe"
    sc.setJobGroup(group, group)
    try:
        return fn(), sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_parquet_catalog_absent_table_starts_no_job(spark, tmp_path):
    from gdal_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path))
    assert _jobs_started(spark, lambda: cat.read("t.absent")) == (None, [])
    cat.append(spark.range(3).toDF("k"), "t.present")
    got, jobs = _jobs_started(spark, lambda: cat.read("t.present"))
    assert got.count() == 3 and jobs  # the probe sees schema inference


@pytest.mark.parametrize("hidden", ["_temporary", "_SUCCESS", "_snapshots", ".hidden"])
def test_parquet_catalog_hidden_entries_only_is_no_table(spark, tmp_path, hidden):
    from gdal_spark.catalog import ParquetCatalog

    table = tmp_path / "t" / "tiles"
    (table / hidden).mkdir(parents=True)
    (table / "_SUCCESS").touch()
    assert ParquetCatalog(spark, str(tmp_path)).read("t.tiles") is None


def test_corrupt_committed_table_raises_not_reappends(spark, tmp_path):
    """An unreadable committed table is an error, not "nothing
    committed": a resume run must not re-append every key."""
    import os

    from py4j.protocol import Py4JJavaError

    from gdal_spark.catalog import ParquetCatalog
    from gdal_spark.operators.scale import ResumableWriter

    out = tmp_path / "snap"
    w = ResumableWriter(spark, str(out), keys=["k"])
    w.run(spark.range(4).toDF("k").coalesce(1))
    parts = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))
    assert len(parts) == 1
    (out / parts[0]).write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        ParquetCatalog(spark, str(out)).read(".")
    with pytest.raises(Py4JJavaError):
        w.run(spark.range(6).toDF("k"))
    assert sorted(p for p in os.listdir(out) if p.endswith(".parquet")) == parts


def test_resumable_writer_through_catalog(spark, tmp_path):
    from gdal_spark.catalog import get_catalog, iceberg_available
    from gdal_spark.operators.scale import ResumableWriter

    cat = get_catalog(spark, str(tmp_path / "wh"))
    w = ResumableWriter(spark, "", keys=["k"], catalog=cat, ident="db.tiles")
    m1 = w.run(spark.range(5).toDF("k"))
    assert m1["rows"] == 5
    assert m1["base_snapshot_id"] == ""      # first commit: empty base
    assert m1["snapshot_id"] != ""
    # second run: 5 committed + 3 new -> only 3 written, lineage
    # carries the REAL snapshot id the resume was based on
    m2 = w.run(spark.range(8).toDF("k"))
    assert m2["rows"] == 3
    assert m2["base_snapshot_id"] == m1["snapshot_id"]
    got = cat.read("db.tiles")
    assert got.count() == 8
    snaps = {r["source_snapshot_id"] for r in got.select("source_snapshot_id").collect()}
    assert snaps == {"", m1["snapshot_id"]}
    if iceberg_available(spark):
        assert m1["snapshot_id"].isdigit()  # real Iceberg snapshot id


def test_resumable_writer_path_backcompat(spark, tmp_path):
    """Old path-based API still works (dir-as-table)."""
    from gdal_spark.operators.scale import ResumableWriter

    out = str(tmp_path / "snap")
    w = ResumableWriter(spark, out, keys=["k"])
    w.run(spark.range(4).toDF("k"))
    m = w.run(spark.range(6).toDF("k"))
    assert m["rows"] == 2
    assert spark.read.parquet(out).count() == 6


def test_no_full_layer_collect_in_sources():
    """Round-2 verdict #2 done-criterion: no single-file sink may
    collect() the whole layer to the driver — they stream
    toLocalIterator() instead (sqlite/shp/fgb/csv/geojson are
    inherently single-writer formats; memory must stay O(partition))."""
    import pathlib

    src_dir = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark" / "sources"
    for py in src_dir.glob("*.py"):
        text = py.read_text()
        assert ".collect()" not in text, f"{py.name} collects a layer"
        if py.name in ("gpkg.py", "shapefile.py", "flatgeobuf.py",
                       "csvgeo.py", "geojson.py"):
            assert "toLocalIterator" in text, f"{py.name} should stream"


def test_shortest_paths_hand_graph(spark):
    """Distributed Bellman-Ford == hand Dijkstra on a small graph with
    a tempting-but-wrong greedy route and an unreachable node."""
    from gdal_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            (1, 2, 10), (1, 3, 1), (3, 4, 1), (4, 2, 1),  # 1->2 best = 3
            (2, 5, 5), (5, 2, 1),                          # cycle back
            (6, 7, 2),                                     # island
        ],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in shortest_paths(edges, src).collect()}
    assert got == {1: 0, 3: 1, 4: 2, 2: 3, 5: 8}


def test_shortest_paths_multi_source(spark):
    from gdal_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 4), (9, 2, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    src = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r.node: r.dist for r in shortest_paths(edges, src).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}
