"""Import surface: every engine module imports, and `__spark_entry__`
registers the queries it declares. No SparkSession is started, so a
module that still imports deleted code fails here, not only when the
query that reaches it runs."""

from __future__ import annotations

import importlib
import pkgutil

import openair_spark


def test_every_engine_module_imports():
    names = [m.name for m in pkgutil.walk_packages(openair_spark.__path__, "openair_spark.")]
    assert names
    for name in names:
        importlib.import_module(name)


def test_entry_registers_declared_queries():
    import __spark_entry__ as entry

    queries = entry.queries()
    assert len(queries) == 51
    assert list(queries)[-1] == "multimodal_decode"
    oracles = entry.oracle_sql()
    assert len(oracles) == 42
    assert set(oracles) <= set(queries)
