"""PySpark-native approximate query engine.

A brand-new engine with the query and data-processing capabilities of
``saumyarr8/ApproximateQueryEngine`` (see SURVEY.md), re-expressed
Spark-first: sampling designs become DataFrame transformations,
estimators become single-pass aggregate expressions with closed-form
confidence intervals, and the adaptive CLT loop becomes a driver-side
fraction-escalation loop between Spark jobs.

Public surface::

    from approximatequeryengine_spark import AQEngine, get_spark

    spark = get_spark()
    eng = AQEngine(spark, "/root/testdata/sf0.01")
    res = eng.run("SELECT APPROX(SUM(l_extendedprice)) FROM lineitem")
"""

from importlib import import_module

# The public names load on first use: Arrow kernels call the NumPy hash
# forms in functions/hashing.py, which a Python worker imports by name,
# and importing the engine there cost every fresh worker ~0.15 s.
_PUBLIC = {
    "get_spark": "session",
    "Catalog": "catalog",
    "TABLES": "catalog",
    "AQEngine": "engine",
    "ApproxResult": "result",
    "ApproximationStatus": "result",
}

__all__ = list(_PUBLIC)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name in _PUBLIC:
        return getattr(import_module(f"{__name__}.{_PUBLIC[name]}"), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
