"""Every module of the package imports, so a deletion that leaves a
dangling import fails here in seconds instead of deep in a query."""

import importlib
import pkgutil
import traceback

import nyc_etl_pipeline_spark


def _raise(name):
    # walk_packages skips a subpackage whose __init__ fails to import
    # unless onerror re-raises
    raise ImportError(f"cannot import package {name}")


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            nyc_etl_pipeline_spark.__path__,
            nyc_etl_pipeline_spark.__name__ + ".",
            onerror=_raise,
        )
    ]
    assert "nyc_etl_pipeline_spark.streaming.stateful" in names
    failed = {}
    for name in names:
        try:
            importlib.import_module(name)
        except Exception:
            failed[name] = traceback.format_exc(limit=1)
    assert not failed, failed
