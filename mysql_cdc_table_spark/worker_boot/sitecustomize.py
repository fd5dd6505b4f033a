"""Install the stamped zip importer before a Spark Python worker imports
pyspark.

``session.get_spark`` puts this file's directory on the workers'
``PYTHONPATH``, and ``site`` imports ``sitecustomize`` at interpreter
start, before the worker's first ``from pyspark ...``. The importer's
module is loaded by file path under its package name: the package's
``__init__`` imports pyspark.sql, and the package's parent directory may
not be on ``sys.path`` yet. A later ``import mysql_cdc_table_spark``
finds the same module in ``sys.modules``. Then the next
``sitecustomize`` along ``sys.path``, which this one shadows, runs too.
"""

import importlib.machinery
import importlib.util
import os
import sys


def _run(spec) -> None:
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module
    try:
        spec.loader.exec_module(module)
    except BaseException:
        del sys.modules[spec.name]
        raise


def _boot() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    name = "mysql_cdc_table_spark.worker_imports"
    if name not in sys.modules:
        source = os.path.join(os.path.dirname(here), "worker_imports.py")
        _run(importlib.util.spec_from_file_location(name, source))
    dirs = [os.path.abspath(p or os.curdir) for p in sys.path]
    later = sys.path[dirs.index(here) + 1:] if here in dirs else []
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is not None:
        _run(spec)


_boot()
