"""Every function and method defined in a gdal_spark module resolves
its annotations: `typing.get_type_hints` raises NameError on a name
that a postponed annotation uses but the module never imports."""

import importlib
import inspect
import pkgutil
import typing

import gdal_spark


def _defined_functions():
    for info in pkgutil.walk_packages(gdal_spark.__path__, "gdal_spark."):
        mod = importlib.import_module(info.name)
        for obj in vars(mod).values():
            if inspect.isclass(obj) and obj.__module__ == mod.__name__:
                members = [v for v in vars(obj).values() if inspect.isfunction(v)]
            else:
                members = [obj]
            for fn in members:
                if inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                    yield fn


def test_annotations_resolve():
    bad = []
    fns = list(_defined_functions())
    for fn in fns:
        try:
            typing.get_type_hints(fn)
        except Exception as e:  # noqa: BLE001 — report every failure
            bad.append(f"{fn.__module__}.{fn.__qualname__}: {e!r}")
    assert len(fns) > 1000
    assert not bad, bad
