"""The session's Python worker daemon (gdal_spark/worker.py): workers
import the unpacked PySpark and hold no zipimporter over Spark's own
archives, so PySpark's per-task `importlib.invalidate_caches()` has no
archive directory to re-read."""

import os
import shutil
import subprocess
import sys

import pytest

from gdal_spark.worker import unzipped_path, worker_imports

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def worker_state(spark):
    return worker_imports(spark)


def test_worker_imports_unpacked_pyspark(worker_state):
    assert ".zip" not in worker_state.file
    assert os.path.isfile(worker_state.file)


def test_worker_pyspark_version_matches_driver(worker_state):
    import pyspark

    assert worker_state.version == pyspark.__version__


def test_worker_holds_no_spark_archive_zipimporter(worker_state):
    for path in filter(None, worker_state.zips.split("\n")):
        assert "pyspark.zip" not in path
        assert not any(
            part.startswith("spark-core") and part.endswith(".jar")
            for part in path.split(os.sep)
        ), path


def test_package_import_leaves_pyspark_unloaded():
    code = "import sys, gdal_spark; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    assert out == "False"


def _touch(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()


def test_unzipped_path_distribution_layout(tmp_path):
    home = tmp_path / "spark"
    _touch(str(home / "python" / "pyspark" / "__init__.py"))
    zip_ = str(home / "python" / "lib" / "pyspark.zip")
    py4j = str(home / "python" / "lib" / "py4j-src.zip")
    jar = str(home / "jars" / "spark-core_2.13-4.1.2.jar")
    assert unzipped_path(["", zip_, py4j, jar, "/repo"]) == [
        "", str(home / "python"), py4j, "/repo",
    ]


def test_unzipped_path_pip_layout(tmp_path):
    site = tmp_path / "site-packages"
    _touch(str(site / "pyspark" / "__init__.py"))
    zip_ = str(site / "pyspark" / "python" / "lib" / "pyspark.zip")
    jar = str(site / "pyspark" / "jars" / "spark-core_2.13-4.1.2.jar")
    other_jar = str(site / "pyspark" / "jars" / "spark-sql_2.13-4.1.2.jar")
    assert unzipped_path([zip_, jar, other_jar]) == [str(site), other_jar]
    # site-packages already on the path: the zip goes, and no second
    # copy of it lands ahead of the user's PYTHONPATH
    assert unzipped_path([zip_, jar, "/user", str(site)]) == [
        "/user", str(site),
    ]


def test_unzipped_path_keeps_zip_without_unpacked_pyspark(tmp_path):
    zip_ = str(tmp_path / "python" / "lib" / "pyspark.zip")
    assert unzipped_path([zip_, "/repo"]) == [zip_, "/repo"]


def test_spark_submit_with_py_files_keeps_pyspark_daemon(tmp_path):
    # the documented cluster shape: `spark-submit --py-files
    # gdal_spark.zip`, run from outside the repo with no PYTHONPATH to
    # it. The JVM is started before get_spark runs, so its workers
    # cannot import gdal_spark.worker; the session must keep
    # pyspark.daemon and its Arrow stages must still run.
    from pyspark.find_spark_home import _find_spark_home

    shutil.make_archive(
        str(tmp_path / "gdal_spark"), "zip", REPO, "gdal_spark"
    )
    script = tmp_path / "probe.py"
    script.write_text(
        "from gdal_spark.session import get_spark\n"
        "spark = get_spark('submit-probe', master='local[1]',"
        " shuffle_partitions=1)\n"
        "n = spark.range(3).mapInPandas(lambda it: it, 'id long').count()\n"
        "conf = spark.sparkContext.getConf()\n"
        "print('PROBE', n, conf.get('spark.python.daemon.module', '-'))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    r = subprocess.run(
        [submit, "--master", "local[1]", "--driver-memory", "1g",
         "--py-files", str(tmp_path / "gdal_spark.zip"), str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    probe = [l for l in r.stdout.splitlines() if l.startswith("PROBE")]
    assert r.returncode == 0 and probe == ["PROBE 3 -"], r.stderr[-3000:]


def test_arrow_batches_capped_by_bytes(spark):
    from gdal_spark.session import ARROW_MAX_BATCH_BYTES

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert ARROW_MAX_BATCH_BYTES == 16 * 1024 * 1024
    assert spark.conf.get(key) == str(ARROW_MAX_BATCH_BYTES)
    # a key Spark defines and reads, not a free-form setting it ignores
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.isModifiable(key)
    assert conf.arrowMaxBytesPerBatch() == ARROW_MAX_BATCH_BYTES
