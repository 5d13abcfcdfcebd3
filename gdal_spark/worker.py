"""Python worker daemon for the engine's Spark sessions.

`session.get_spark` sets `spark.python.daemon.module` to this module, so
each executor starts it once as `python -m gdal_spark.worker` instead of
`python -m pyspark.daemon`. It rewrites the import path, then hands over
to PySpark's own daemon, which forks one worker per Python task.

Spark puts its `python/lib/pyspark.zip` and its `spark-core` jar at the
front of the worker's `sys.path`. At the start of every task PySpark's
`worker_util.setup_spark_files` calls `importlib.invalidate_caches()`,
and on Python 3.11 that makes every cached `zipimporter` re-read its
archive's central directory: one per imported pyspark subpackage (about
16) over the zip's 1,328 entries, and two over the jar's 5,359. That
cost ~0.1 s of CPU per task before any user code ran. Importing the
unpacked `pyspark` of the same Spark install, and dropping the jar (it
holds no Python), leaves no zipimporter to re-read.

Keep this module and `gdal_spark/__init__.py` free of PySpark imports:
`-m` runs the package `__init__` first, and a module imported before
`main` rewrites the path would still come from the zip.
"""

from __future__ import annotations

import fnmatch
import os
import sys


def unzipped_path(path: list[str]) -> list[str]:
    """`path` with Spark's `python/lib/pyspark.zip` replaced by the
    directory that holds the same install's unpacked `pyspark` package,
    and Spark's `spark-core*.jar` dropped.

    Two install layouts are recognised:
    - distribution: `$SPARK_HOME/python/lib/pyspark.zip` beside
      `$SPARK_HOME/python/pyspark/`;
    - pip: `<site>/pyspark/python/lib/pyspark.zip` inside the
      `<site>/pyspark/` package itself.
    A zip with neither next to it is kept. A root that is already on
    `path` (the pip layout's site-packages, as a rule) is not put in a
    second time ahead of the entries before it: the zip is dropped.
    """
    out = []
    for entry in path:
        name = os.path.basename(entry)
        if fnmatch.fnmatch(name, "spark-core*.jar"):
            continue
        if name == "pyspark.zip":
            root = _unpacked_root(entry)
            if root in path:
                continue
            entry = root or entry
        out.append(entry)
    return out


def _unpacked_root(zip_path: str) -> str | None:
    python_dir = os.path.dirname(os.path.dirname(zip_path))
    for root in (python_dir, os.path.dirname(os.path.dirname(python_dir))):
        if os.path.isfile(os.path.join(root, "pyspark", "__init__.py")):
            return root
    return None


def worker_imports(spark):
    """What one Python task of `spark` imported PySpark from: a Row of
    `file` (`pyspark.__file__`), `version` (`pyspark.__version__`) and
    `zips` (the task's cached zipimporters' paths, one a line)."""
    return spark.range(1).mapInPandas(
        _imports, "file string, version string, zips string"
    ).first()


def _imports(batches):
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    zips = [
        k for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter)
    ]
    yield pd.DataFrame({
        "file": [pyspark.__file__],
        "version": [pyspark.__version__],
        "zips": ["\n".join(zips)],
    })


def main() -> None:
    sys.path[:] = unzipped_path(sys.path)
    # finding this module already cached a zipimporter for pyspark.zip
    sys.path_importer_cache.clear()
    # the Spark install is not ours to write to (and is often read-only
    # or shared): compile PySpark from source, as the zip import did
    sys.dont_write_bytecode = True

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
