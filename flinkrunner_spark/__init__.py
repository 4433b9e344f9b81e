"""flinkrunner_spark — a PySpark-native analytics/stream engine with the
capabilities of epiphanous/flinkrunner (reference surveyed in SURVEY.md).

Everything here is expressed Spark-first: DataFrame/SQL logical plans that
Catalyst optimizes, Structured Streaming for unbounded inputs, and
Arrow-batched Pandas UDFs only where built-in operators cannot express the
semantics.

The exports load on first access (PEP 562): the Python worker daemon
(``flinkrunner_spark.pyworker``) imports this package before it may import
any ``pyspark`` module, so importing the package must import none.
"""

from importlib import import_module

_EXPORTS = {
    "get_spark": "flinkrunner_spark.session",
    "TABLES": "flinkrunner_spark.tables",
    "load_tables": "flinkrunner_spark.tables",
    "register_views": "flinkrunner_spark.tables",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name):
    if name in _EXPORTS:
        return getattr(import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
